"""Independent-model replays, batch 11 (round 11): the deterministic
sketch family rebuilt hash-for-hash in pure Python (CMS counters, KMV
k-th minimum, Bloom bit set — the affine a·x+b mod P hashes make the
sketches exactly replayable, so estimates are pinned to the digit,
not "close enough"), the CUSUM detector replayed through the DIRECT
max(0, S+x−k) recursion against the shipped closed form, and the
time-series operators (OHLC, gap-fill, LOCF, cumulative users,
rankit) replayed over pandas."""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"
TOL6 = 6e-7


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _events_us() -> pd.DataFrame:
    ev = _tbl("events")
    # the catalog floors nanosecond parquet timestamps to microseconds
    ev["ts"] = pd.to_datetime(ev.ts).dt.floor("us")
    return ev


def test_count_min_sketch_rebuilt_in_python(spark):
    from hdsp_hive_release_src_spark.functions.hashing import CMS_P
    from hdsp_hive_release_src_spark.queries.stats.sketches import (
        CMS_HASHES,
        CMS_TOPN,
        CMS_W,
    )

    registry.load_all()
    rows = registry.QUERIES["count_min_sketch_freq"](spark, SF).collect()
    ev = _tbl("events")
    counters: dict = defaultdict(int)
    exact: dict = defaultdict(int)
    for u in ev.user_id:
        u = int(u)
        exact[u] += 1
        for j, (a, b) in enumerate(CMS_HASHES):
            counters[(j, (a * u + b) % CMS_P % CMS_W)] += 1
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_TOPN]
    want = []
    for u, n in sorted(top, key=lambda kv: (-kv[1], kv[0])):
        est = min(
            counters[(j, (a * u + b) % CMS_P % CMS_W)]
            for j, (a, b) in enumerate(CMS_HASHES)
        )
        want.append((u, n, est, est >= n, est - n))
    got = [
        (r.user_id, r.exact_n, r.cms_est, r.never_undercounts, r.overcount)
        for r in rows
    ]
    assert got == want
    assert all(r.never_undercounts for r in rows)  # CMS one-sided error


def test_kmv_kth_minimum_rebuilt_in_python(spark):
    from hdsp_hive_release_src_spark.queries.stats.sketches import (
        KMV_A,
        KMV_B,
        KMV_K,
    )
    from hdsp_hive_release_src_spark.functions.hashing import CMS_P

    registry.load_all()
    row = registry.QUERIES["kmv_distinct_estimate"](spark, SF).collect()[0]
    ids = sorted({int(u) for u in _tbl("events").user_id})
    hs = sorted((KMV_A * u + KMV_B) % CMS_P for u in ids)
    kth = hs[KMV_K - 1]
    est = (KMV_K - 1) * CMS_P // kth
    assert (row.k, row.kth_hash, row.estimated_distinct) == (
        KMV_K, kth, est,
    )
    assert row.exact_distinct == len(ids)
    assert row.err_permille == abs(est - len(ids)) * 1000 // len(ids)


def test_bloom_filter_rebuilt_in_python(spark):
    from hdsp_hive_release_src_spark.functions.hashing import CMS_P
    from hdsp_hive_release_src_spark.queries.stats.sketches import (
        BLOOM_HASHES,
        BLOOM_M,
        BLOOM_MIN_PURCHASES,
    )

    registry.load_all()
    row = registry.QUERIES["bloom_filter_membership"](spark, SF).collect()[0]
    ev = _tbl("events")
    pc: dict = defaultdict(int)
    for u in ev.loc[ev.event_type == "purchase", "user_id"]:
        pc[int(u)] += 1
    members = {u for u, n in pc.items() if n >= BLOOM_MIN_PURCHASES}
    bits = {
        (a * u + b) % CMS_P % BLOOM_M
        for u in members
        for a, b in BLOOM_HASHES
    }
    tested = {int(u) for u in ev.user_id}
    flagged = {
        u
        for u in tested
        if all(
            (a * u + b) % CMS_P % BLOOM_M in bits
            for a, b in BLOOM_HASHES
        )
    }
    assert row.n_members == len(members)
    assert row.n_tested == len(tested)
    assert row.n_flagged == len(flagged)
    assert row.n_false_pos == len(flagged - members)
    assert row.n_false_neg == len(members - flagged) == 0


def test_cusum_direct_recursion_replay(spark):
    """The shipped plan uses the closed form S_t = C_t − min(0, min
    C_i); the replay runs Page's literal recursion
    S_t = max(0, S_{t−1} + x_t − k). Agreement proves the
    window-expressible closed form IS the recursion."""
    registry.load_all()
    rows = registry.QUERIES["cusum_drift_detection"](spark, SF).collect()
    ev = _events_us()
    ev["d"] = ev.ts.dt.floor("D")
    daily = (
        ev.groupby(["event_type", "d"]).size().rename("n").reset_index()
    )
    for r in rows:
        g = daily[daily.event_type == r.event_type].sort_values("d")
        k = 11 * int(g.n.sum()) // (10 * len(g))
        s = 0
        max_s = 0
        alerts = 0
        for n in g.n:
            s = max(0, s + int(n) - k)
            max_s = max(max_s, s)
            if s > 3 * k:
                alerts += 1
        assert (r.k, r.max_cusum, r.n_alert_days) == (k, max_s, alerts)


def test_kl_divergence_pandas_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["kl_divergence_drift"](spark, SF).collect()
    d = _tbl("documents")
    per_source: dict = defaultdict(lambda: defaultdict(int))
    corpus: dict = defaultdict(int)
    for src, text in zip(d.source, d.text):
        for w in text.split(" "):
            per_source[src][w] += 1
            corpus[w] += 1
    ctot = sum(corpus.values())
    for r in rows:
        dist = per_source[r.source]
        tot = sum(dist.values())
        kl = sum(
            (c / tot) * math.log((c / tot) / (corpus[w] / ctot))
            for w, c in dist.items()
        )
        assert r.n_terms == len(dist)
        assert abs(r.kl_nats - kl) <= TOL6, r.source


def test_ohlc_daily_pandas_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["ohlc_daily"](spark, SF).collect()
    ev = _events_us().sort_values(["ts", "event_id"])
    ev["day"] = ev.ts.dt.floor("D")
    got = {
        pd.Timestamp(r.day): (r.open, r.high, r.low, r.close, r.n_events)
        for r in rows
    }
    assert set(got) == set(ev.day.unique())
    for day, g in ev.groupby("day"):
        o, h, lo, c, n = got[day]
        assert abs(o - g.value.iloc[0]) <= TOL6
        assert abs(c - g.value.iloc[-1]) <= TOL6
        assert abs(h - g.value.max()) <= TOL6
        assert abs(lo - g.value.min()) <= TOL6
        assert n == len(g)


def test_gapfill_daily_pandas_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["gapfill_daily"](spark, SF).collect()
    ev = _events_us()
    ev["day"] = ev.ts.dt.floor("D")
    days = pd.date_range(ev.day.min(), ev.day.max(), freq="D")
    types = sorted(ev.event_type.unique())
    counts = ev.groupby(["day", "event_type"]).size()
    want = [
        (d, t, int(counts.get((d, t), 0)))
        for d in days
        for t in types
    ]
    got = [(pd.Timestamp(r.day), r.event_type, r.n) for r in rows]
    assert sorted(got) == sorted(want)
    # the grid is dense by construction: every (day, type) cell exists
    assert len(got) == len(days) * len(types)


def test_locf_pandas_ffill_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["locf_interpolation"](spark, SF).collect()
    ev = _events_us()
    ev = ev[ev.user_id < 100].copy()
    ev.loc[ev.event_id % 7 == 0, "value"] = None
    want = {}
    for _, g in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        filled = g.value.ffill()
        for eid, v in zip(g.event_id, filled):
            want[(int(g.user_id.iloc[0]), int(eid))] = (
                None if pd.isna(v) else float(v)
            )
    assert len(rows) == len(want)
    for r in rows:
        w = want[(r.user_id, r.event_id)]
        if w is None:
            assert r.value_filled is None
        else:
            assert abs(r.value_filled - w) <= TOL6


def test_cumulative_users_first_touch_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["cumulative_users"](spark, SF).collect()
    ev = _events_us()
    ev["day"] = ev.ts.dt.floor("D")
    first = ev.groupby("user_id")["day"].min()
    daily = first.value_counts().sort_index()
    cum = daily.cumsum()
    assert [
        (pd.Timestamp(r.day), r.new_users, r.cum_users) for r in rows
    ] == [(d, int(daily[d]), int(cum[d])) for d in daily.index]


def test_quantile_normalize_rankit_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["quantile_normalize"](spark, SF).collect()
    o = _tbl("orders")
    o = o[o.o_orderkey < 4000].sort_values(
        ["o_totalprice", "o_orderkey"]
    )
    n = len(o)
    want = {
        int(k): (i + 1 - 0.5) / n
        for i, k in enumerate(o.o_orderkey)
    }
    assert len(rows) == n
    for r in rows:
        assert abs(r.qnorm - want[r.o_orderkey]) <= TOL6

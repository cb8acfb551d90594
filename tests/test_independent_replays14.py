"""Independent-model replays, batch 14 (round 11): behavioral
analytics (transition matrix, strict windowed funnel, first-touch
attribution, time-to-convert, trending items, volume anomalies) and
the exact heavy-hitters / HLL-rsd contracts, replayed with direct
Python scans — the shipped plans use windows/joins, the oracles use
SQL windows; these use neither."""

from __future__ import annotations

import json
import math
import statistics
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"
TOL6 = 6e-7
TOL2 = 6e-3


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _events_us() -> pd.DataFrame:
    ev = _tbl("events")
    ev["ts"] = pd.to_datetime(ev.ts).dt.floor("us")
    return ev


def _r2(x: float) -> float:  # HALF_UP to cents on non-negative values
    return math.floor(x * 100 + 0.5) / 100


def test_heavy_hitters_exact_counter_replay(spark):
    from hdsp_hive_release_src_spark.queries.text.corpus import HH_DEN

    registry.load_all()
    rows = registry.QUERIES["heavy_hitters_topk"](spark, SF).collect()
    c: Counter = Counter()
    for t in _tbl("documents").text:
        c.update(w for w in t.split(" ") if w)
    total = sum(c.values())
    want = sorted(
        ((w, n) for w, n in c.items() if n * HH_DEN > total),
        key=lambda wn: (-wn[1], wn[0]),
    )
    assert [(r.item, r.n) for r in rows] == want
    for r in rows:
        assert abs(r.frac - c[r.item] / total) <= TOL6


def test_transition_matrix_direct_scan_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["event_transition_matrix"](
        spark, SF
    ).collect()
    ev = _events_us().sort_values(["user_id", "ts", "event_id"])
    counts: dict = defaultdict(int)
    bound = pd.Timedelta(minutes=30)
    for _, g in ev.groupby("user_id"):
        types = g.event_type.tolist()
        tss = g.ts.tolist()
        for i in range(len(types) - 1):
            if tss[i + 1] <= tss[i] + bound:
                counts[(types[i], types[i + 1])] += 1
    row_tot: dict = defaultdict(int)
    for (a, _), n in counts.items():
        row_tot[a] += n
    assert {(r.from_type, r.to_type): r.n for r in rows} == dict(counts)
    for r in rows:
        assert abs(r.p - counts[(r.from_type, r.to_type)] / row_tot[r.from_type]) <= TOL6


def test_funnel_strict_reanchored_deadlines_replay(spark):
    registry.load_all()
    row = registry.QUERIES["funnel_windowed_strict"](spark, SF).collect()[0]
    ev = _events_us()
    hour = pd.Timedelta(hours=1)
    by_user: dict = defaultdict(lambda: defaultdict(list))
    for u, t, ts in zip(ev.user_id, ev.event_type, ev.ts):
        by_user[int(u)][t].append(ts)
    n_v = n_c = n_p = 0
    for u, evs in by_user.items():
        if not evs["view"]:
            continue
        n_v += 1
        s1 = min(evs["view"])
        clicks = [t for t in evs["click"] if s1 < t <= s1 + hour]
        if not clicks:
            continue
        n_c += 1
        s2 = min(clicks)
        if any(s2 < t <= s2 + hour for t in evs["purchase"]):
            n_p += 1
    assert (row.n_viewed, row.n_clicked_1h, row.n_purchased_1h) == (
        n_v, n_c, n_p,
    )


def test_first_touch_attribution_session_scan_replay(spark):
    registry.load_all()
    row = registry.QUERIES["session_first_touch_attribution"](
        spark, SF
    ).collect()[0]
    ev = _events_us()
    ev = ev[ev.user_id < 300].sort_values(["user_id", "ts", "event_id"])
    gap = pd.Timedelta(seconds=1800)
    sessions = []
    for _, g in ev.groupby("user_id"):
        cur = None
        last_ts = None
        for r in g.itertuples():
            if last_ts is None or r.ts - last_ts >= gap:
                if cur:
                    sessions.append(cur)
                cur = {"views": [], "rev": 0.0}
            if r.event_type == "view":
                cur["views"].append(int(r.event_id))
            if r.event_type == "purchase":
                cur["rev"] += float(r.value)
            last_ts = r.ts
        if cur:
            sessions.append(cur)
    revs = [_r2(s["rev"]) for s in sessions]
    attributed = [
        (bool(s["views"]), rv) for s, rv in zip(sessions, revs)
    ]
    assert row.n_sessions == len(sessions)
    assert row.attributed_sessions == sum(
        1 for has_v, rv in attributed if has_v and rv > 0
    )
    assert abs(
        row.attributed_revenue
        - sum(rv for has_v, rv in attributed if has_v)
    ) <= TOL2
    assert abs(row.total_revenue - sum(revs)) <= TOL2


def test_time_to_convert_replay(spark):
    registry.load_all()
    row = registry.QUERIES["time_to_convert"](spark, SF).collect()[0]
    ev = _events_us()
    firsts: dict = defaultdict(lambda: [None, None])
    for u, t, ts in zip(ev.user_id, ev.event_type, ev.ts):
        slot = 0 if t == "view" else 1 if t == "purchase" else None
        if slot is not None:
            cur = firsts[int(u)][slot]
            if cur is None or ts < cur:
                firsts[int(u)][slot] = ts
    ttc = [
        (b - v).total_seconds()
        for v, b in firsts.values()
        if v is not None and b is not None and b >= v
    ]
    assert row.n_converted == len(ttc)
    assert abs(row.median_ttc_s - statistics.median(ttc)) <= 0.06
    s = sorted(ttc)
    idx = (len(s) - 1) * 0.9
    lo, hi = s[math.floor(idx)], s[math.ceil(idx)]
    p90 = lo + (hi - lo) * (idx - math.floor(idx))
    assert abs(row.p90_ttc_s - p90) <= 0.06
    assert row.min_ttc_s == math.floor(min(ttc) + 0.5)


def test_trending_items_daily_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["trending_items_daily"](spark, SF).collect()
    ev = _events_us()
    ev["day"] = ev.ts.dt.floor("D")
    counts: dict = defaultdict(int)
    for day, props in zip(ev.day, ev.props):
        k = json.loads(props).get("k") if props else None
        counts[(day, None if k is None else int(k))] += 1
    want = []
    per_day: dict = defaultdict(list)
    for (day, item), n in counts.items():
        per_day[day].append((item, n))
    for day, items in per_day.items():
        ranked = sorted(items, key=lambda kv: (-kv[1], kv[0]))[:3]
        for i, (item, n) in enumerate(ranked, 1):
            want.append((day, item, n, i))
    got = [(pd.Timestamp(r.day), r.item, r.n, r.rnk) for r in rows]
    assert sorted(got) == sorted(want)


def test_event_count_anomaly_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["event_count_anomaly"](spark, SF).collect()
    ev = _events_us()
    ev["day"] = ev.ts.dt.floor("D")
    daily = ev.groupby(["event_type", "day"]).size()
    want = []
    for et in sorted(ev.event_type.unique()):
        series = daily[et].sort_index()
        for prev, cur in zip(series.items(), list(series.items())[1:]):
            n, pn = int(cur[1]), int(prev[1])
            want.append(
                (et, cur[0], n, pn, n > 2 * pn or 2 * n < pn)
            )
    got = [
        (r.event_type, pd.Timestamp(r.day), r.n, r.prev_n, r.anomaly)
        for r in rows
    ]
    assert got == want


def test_approx_count_distinct_contract_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["approx_count_distinct_rsd"](
        spark, SF
    ).collect()
    exact = len({int(u) for u in _tbl("events").user_id})
    assert [r.rsd for r in rows] == [0.01, 0.05, 0.1]
    for r in rows:
        assert r.exact_distinct == exact
        assert r.within_4sigma  # the HLL accuracy contract

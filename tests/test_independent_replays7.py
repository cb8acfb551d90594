"""Independent-model replays, batch 7 (round 10): rolling finance
stats, sketch exactness vs plain sets, the epoch/timezone constructor
matrix vs Python's datetime+zoneinfo (a third calendar engine), and
WITH TIES semantics."""

from __future__ import annotations

import datetime as dt
from zoneinfo import ZoneInfo

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_vwap_rolling_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.events.timeseries import TA_WIN

    registry.load_all()
    def _as_date(v):
        return v.date() if isinstance(v, dt.datetime) else v

    rows = [
        (_as_date(r.d), r.vol, r.vwap_cents, r[3])
        for r in registry.QUERIES["vwap_rolling"](spark, SF).collect()
    ]
    li = _tbl("lineitem")
    li["d"] = pd.to_datetime(li.l_shipdate).dt.date
    li = li[
        (li.d >= dt.date(1995, 1, 1)) & (li.d <= dt.date(1995, 3, 31))
    ].copy()
    li["pv"] = (li.l_extendedprice * 100).round().astype("int64")
    li["vol"] = li.l_quantity.astype("int64")
    g = li.groupby("d")[["pv", "vol"]].sum().sort_index()
    pv = g.pv.tolist()
    vol = g.vol.tolist()
    want = []
    for i, d in enumerate(g.index):
        rpv = sum(pv[max(0, i - TA_WIN + 1) : i + 1])
        rvol = sum(vol[max(0, i - TA_WIN + 1) : i + 1])
        want.append(
            (d, vol[i], pv[i] // vol[i], rpv // rvol)
        )
    assert rows == want


def test_yoy_growth_matches_python_replay(spark):
    registry.load_all()
    rows = [
        (r.y, r.rev_cents, r.prev_cents, r.yoy_growth_permille)
        for r in registry.QUERIES["yoy_revenue_growth"](
            spark, SF
        ).collect()
    ]
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    yearly = (
        o.groupby(pd.to_datetime(o.o_orderdate).dt.year)["cents"]
        .sum()
        .sort_index()
    )
    want = []
    prev = None
    for y, rev in yearly.items():
        growth = (
            _trunc_div((int(rev) - prev) * 1000, prev)
            if prev is not None
            else None
        )
        want.append((y, int(rev), prev, growth))
        prev = int(rev)
    assert rows == want


def test_theta_sketch_exactness_vs_python_sets(spark):
    registry.load_all()
    row = registry.QUERIES["theta_sketch_set_ops"](
        spark, SF
    ).collect()[0]
    ev = _tbl("events")
    a = set(ev.loc[ev.event_type == "purchase", "user_id"])
    b = set(ev.loc[ev.event_type == "click", "user_id"])
    assert row.est_purchasers == len(a)
    assert row.est_clickers == len(b)
    assert row.est_union == len(a | b)
    assert row.est_intersection == len(a & b)
    assert row.est_difference == len(a - b)


def test_bitmap_algebra_vs_python_sets(spark):
    registry.load_all()
    row = registry.QUERIES["bitmap_set_algebra"](spark, SF).collect()[0]
    ev = _tbl("events")
    a = set(ev.loc[ev.event_type == "purchase", "user_id"])
    b = set(ev.loc[ev.event_type == "view", "user_id"])
    assert row.n_purchasers == len(a)
    assert row.n_viewers == len(b)
    assert row.n_both == len(a & b)
    assert row.n_either == len(a | b)


def test_epoch_timezone_matrix_vs_python_datetime(spark):
    registry.load_all()
    row = registry.QUERIES["epoch_timezone_matrix"](
        spark, SF
    ).collect()[0]
    utc = dt.timezone.utc
    assert row.ts_from_seconds == dt.datetime.fromtimestamp(
        1_700_000_000, utc
    ).strftime("%Y-%m-%d %H:%M:%S")
    assert row.ts_from_millis == (
        dt.datetime.fromtimestamp(1_700_000_000.123, utc).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        + ".123"
    )
    t0 = dt.datetime(2023, 11, 14, 22, 13, 20, tzinfo=utc)
    assert row.unix_s == int(t0.timestamp())
    assert row.unix_ms == int(t0.timestamp() * 1000) + 123
    assert row.unix_d == (
        dt.date(2024, 3, 1) - dt.date(1970, 1, 1)
    ).days
    assert row.date_from_unix_d == dt.date(1970, 1, 1) + dt.timedelta(
        days=19783
    )
    assert row.to_unix_ts == int(
        dt.datetime(2024, 3, 1, 12, 0, 0, tzinfo=utc).timestamp()
    )
    assert row.day_name == dt.date(2024, 3, 1).strftime("%a")
    assert row.month_name == dt.date(2024, 3, 1).strftime("%b")
    ny = ZoneInfo("America/New_York")
    for col, day in (("ny_before_dst", 9), ("ny_after_dst", 10)):
        want = (
            dt.datetime(2024, 3, day, 12, 0, 0, tzinfo=utc)
            .astimezone(ny)
            .strftime("%Y-%m-%d %H:%M:%S")
        )
        assert row[col] == want, col
    # and the DST jump itself: 07:00 EST before, 08:00 EDT after
    assert row.ny_before_dst.endswith("07:00:00")
    assert row.ny_after_dst.endswith("08:00:00")
    assert row.anchor_plus_dt == (
        dt.datetime(2024, 1, 1)
        + dt.timedelta(days=1, hours=2, minutes=3, seconds=4.5)
    ).strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    assert row.anchor_plus_ym == dt.date(2025, 8, 15)
    ev = _tbl("events")
    mn = ev.ts.min()
    assert row.min_event_unix_s == int(
        mn.replace(tzinfo=utc).timestamp()
    )
    assert row.n_events == len(ev)


def test_fetch_with_ties_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.relational.sql import TIES_K

    registry.load_all()
    rows = [
        (r.p_partkey, r.p_size, r.p_brand)
        for r in registry.QUERIES["fetch_with_ties_emulation"](
            spark, SF
        ).collect()
    ]
    p = _tbl("part")
    sizes = sorted(p.p_size, reverse=True)
    cut = sizes[TIES_K - 1]
    keep = p[p.p_size >= cut]
    want = sorted(
        zip(keep.p_partkey, keep.p_size.astype("int64"), keep.p_brand),
        key=lambda t: (-t[1], t[0]),
    )
    assert rows == [(a, int(b), c) for a, b, c in want]
    assert len(rows) >= TIES_K  # ties overshoot is the semantics

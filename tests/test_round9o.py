"""Round-9 fifteenth-wave properties: diff classification identity,
capped-session chunk invariants, business-day brute-force lockstep,
parent-share mass conservation."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_table_diff_counts_match_mod_rules(spark):
    from hdsp_hive_release_src_spark.queries.governance import (
        DIFF_ADD_MOD,
        DIFF_CHG_MOD,
        DIFF_DROP_MOD,
    )

    rows = {
        r.status: r
        for r in registry.QUERIES["table_diff_reconcile"](
            spark, SF
        ).collect()
    }
    keys = [
        r.o_orderkey
        for r in spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    removed = sum(1 for k in keys if k % DIFF_DROP_MOD == 0)
    added = sum(1 for k in keys if k % DIFF_ADD_MOD == 0)
    changed = sum(
        1
        for k in keys
        if k % DIFF_DROP_MOD != 0 and k % DIFF_CHG_MOD == 0
    )
    unchanged = len(keys) - removed - changed
    assert rows["removed"].n == removed
    assert rows["added"].n == added
    assert rows["changed"].n == changed
    assert rows["unchanged"].n == unchanged
    # every changed row was bumped exactly +100 cents
    assert rows["changed"].abs_drift_cents == changed * 100
    assert rows["unchanged"].abs_drift_cents == 0


def test_capped_sessions_chunk_invariants(spark):
    rows = sorted(
        registry.QUERIES["sessionization_capped"](spark, SF).collect(),
        key=lambda r: r.chunk,
    )
    assert len(rows) >= 2  # the cap actually splits something
    total_events = (
        spark.read.parquet(f"{SF}/events.parquet").count()
    )
    assert sum(r.n_events for r in rows) == total_events
    for r in rows:
        assert r.max_events <= r.n_events
        assert r.n_subsessions >= 1
    # chunk 0 holds every episode's first slice, so it dominates
    assert rows[0].chunk == 0
    assert rows[0].n_subsessions == max(r.n_subsessions for r in rows)


def test_business_days_closed_form_matches_brute_force(spark):
    """The SQL closed form g(e) = 5*((e+3) div 7) + least((e+3)%7, 5)
    - 3 must equal a literal weekday walk for every lag in the data
    (verified here on a sample of (orderdate, shipdate) pairs)."""
    pairs = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF}/lineitem.parquet"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_orderdate", "l_shipdate")
        .limit(500)
        .collect()
    )

    def g(e):
        return 5 * ((e + 3) // 7) + min((e + 3) % 7, 5) - 3

    epoch = dt.date(1970, 1, 1)

    def _d(v):
        return v.date() if isinstance(v, dt.datetime) else v

    for r in pairs:
        a = (_d(r.o_orderdate) - epoch).days
        b = (_d(r.l_shipdate) - epoch).days
        # the synthetic corpus has shipdates BEFORE orderdates, so the
        # lag is signed: weekdays in [a,b) when a<=b, minus the count
        # in [b,a) otherwise — exactly what g(b)-g(a) yields
        lo, hi, sign = (a, b, 1) if a <= b else (b, a, -1)
        brute = sign * sum(
            1
            for x in range(lo, hi)
            if (epoch + dt.timedelta(days=x)).weekday() < 5
        )
        assert g(b) - g(a) == brute, (r.o_orderdate, r.l_shipdate)

    rows = registry.QUERIES["business_days_lag"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.min_bizdays <= r.max_bizdays
        assert r.min_bizdays * 1000 <= r.avg_bizdays_milli + 999
        assert r.avg_bizdays_milli <= r.max_bizdays * 1000 + 999


def test_share_of_parent_mass_conservation(spark):
    rows = registry.QUERIES["share_of_parent_rollup"](
        spark, SF
    ).collect()
    regions: dict = {}
    parents = {}
    for r in rows:
        if r.nation == "_all":
            parents[r.region] = r
        else:
            regions.setdefault(r.region, []).append(r)
    assert set(parents) == set(regions)
    for reg, kids in regions.items():
        # children's revenue sums exactly to the parent row
        assert sum(k.rev_cents for k in kids) == parents[reg].rev_cents
        share_sum = sum(k.share_of_parent_permille for k in kids)
        assert 1000 - len(kids) <= share_sum <= 1000
    # parent shares of the grand total conserve mass too
    tot_shares = sum(p.share_of_parent_permille for p in parents.values())
    assert 1000 - len(parents) <= tot_shares <= 1000

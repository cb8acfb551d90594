"""Independent-model replays, batch 4 (round 10): journey, session,
privacy, and attribution queries — the round-11 certification queue's
thinnest-tested names — recomputed from raw parquet in plain
Python."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _round_half_up(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_user_path_trigrams_matches_python_replay(spark):
    registry.load_all()
    rows = [
        (r.path, r.n_users)
        for r in registry.QUERIES["user_path_trigrams"](
            spark, SF
        ).collect()
    ]
    ev = _tbl("events").sort_values(["user_id", "ts", "event_id"])
    paths: Counter = Counter()
    for _uid, g in ev.groupby("user_id"):
        types = g.event_type.tolist()
        if len(types) >= 3:
            paths[">".join(types[:3])] += 1
    want = sorted(paths.items(), key=lambda t: (-t[1], t[0]))[:15]
    assert rows == want


def test_sessionization_capped_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.events.sessions import (
        SESSION_CAP_S,
        SESSION_GAP_S,
    )

    registry.load_all()
    rows = {
        r.chunk: r
        for r in registry.QUERIES["sessionization_capped"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events")
    ev["t"] = ev.ts.values.astype("datetime64[us]").astype("int64")
    per_chunk_events: Counter = Counter()
    per_chunk: dict = defaultdict(list)
    for _uid, g in ev.groupby("user_id"):
        ts = sorted(g.t)
        sessions: list = []
        for t in ts:
            if (
                not sessions
                or t - sessions[-1][-1] > SESSION_GAP_S * 1_000_000
            ):
                sessions.append([t])
            else:
                sessions[-1].append(t)
        for s in sessions:
            s0 = s[0]
            chunks: Counter = Counter(
                (t - s0) // (SESSION_CAP_S * 1_000_000) for t in s
            )
            for c, n in chunks.items():
                per_chunk[c].append(n)
    want = {
        c: (len(v), sum(v), max(v)) for c, v in per_chunk.items()
    }
    assert set(rows) == set(want)
    for c, (nsub, nev, mx) in want.items():
        r = rows[c]
        assert (r.n_subsessions, r.n_events, r.max_events) == (
            nsub,
            nev,
            mx,
        )


def test_k_anonymity_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.governance import (
        KANON_BAND,
        KANON_K,
    )

    registry.load_all()
    rows = {
        r.size_bucket: r
        for r in registry.QUERIES["k_anonymity_audit"](
            spark, SF
        ).collect()
    }
    c = _tbl("customer")
    groups: dict = defaultdict(lambda: [0, set()])
    for n, m, bal in zip(c.c_nationkey, c.c_mktsegment, c.c_acctbal):
        cents = _round_half_up(float(bal) * 100)
        band = _trunc_div(cents, KANON_BAND * 100)
        g = groups[(int(n), m, band)]
        g[0] += 1
        g[1].add(1 if bal < 0 else 0)
    want: dict = defaultdict(lambda: [0, 0, 0, 0])
    for sz, sens in groups.values():
        b = want[min(sz, KANON_K)]
        b[0] += 1
        b[1] += sz
        b[2] += sz if sz < KANON_K else 0
        b[3] += 1 if len(sens) == 1 else 0
    assert set(rows) == set(want)
    for bucket, (ng, nr, risk, homo) in want.items():
        r = rows[bucket]
        assert (
            r.n_groups,
            r.n_rows,
            r.rows_at_risk,
            r.homogeneous_groups,
        ) == (ng, nr, risk, homo)


def test_touch_attribution_matches_python_replay(spark):
    registry.load_all()
    rows = {
        r.channel: r
        for r in registry.QUERIES["touch_attribution"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events").sort_values(["user_id", "ts", "event_id"])
    ft_cents: Counter = Counter()
    lt_cents: Counter = Counter()
    for _uid, g in ev.groupby("user_id"):
        first_type = None
        last_np = None
        for et, val in zip(g.event_type, g.value):
            if first_type is None:
                first_type = et
            if et != "purchase":
                last_np = et
            else:
                cents = _round_half_up(float(val) * 100)
                ft_cents[first_type] += cents
                lt_cents[last_np or "none"] += cents
    channels = set(ft_cents) | set(lt_cents)
    assert set(rows) == channels
    for ch in channels:
        r = rows[ch]
        assert r.first_touch_cents == ft_cents.get(ch, 0)
        assert r.last_touch_cents == lt_cents.get(ch, 0)
    # both models must conserve total purchase revenue
    assert sum(ft_cents.values()) == sum(lt_cents.values())


def test_cascading_erasure_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.governance import ERASE_MOD

    registry.load_all()
    rows = {
        r.tbl: r
        for r in registry.QUERIES["cascading_erasure_audit"](
            spark, SF
        ).collect()
    }
    c = _tbl("customer")
    o = _tbl("orders")
    li = _tbl("lineitem")
    subj = set(
        k for k in c.c_custkey if k % ERASE_MOD == 0
    )
    cust_hit = sum(1 for k in c.c_custkey if k % ERASE_MOD == 0)
    ord_hit_keys = set(
        ok
        for ok, ck in zip(o.o_orderkey, o.o_custkey)
        if ck in subj
    )
    ord_hit = len(ord_hit_keys)
    li_rows = li[li.l_orderkey.isin(set(o.o_orderkey))]
    li_hit = int(li_rows.l_orderkey.isin(ord_hit_keys).sum())
    want = {
        "customer": (cust_hit, len(c) - cust_hit),
        "orders": (ord_hit, len(o) - ord_hit),
        "lineitem": (li_hit, len(li_rows) - li_hit),
    }
    assert set(rows) == set(want)
    for tbl, (erase, kept) in want.items():
        assert (rows[tbl].rows_to_erase, rows[tbl].rows_kept) == (
            erase,
            kept,
        )

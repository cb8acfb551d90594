"""Independent-model replays, batch 8 (round 10): try_* NULL-pattern
semantics against arbitrary-precision Python ints, QUALIFY expansion
against a plain top-k walk, and the UNIONTYPE tagged-struct contract
against direct Python dispatch."""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"

I64_MAX = 9223372036854775807
I64_MIN = -9223372036854775808


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def test_try_arith_matches_python_int_model(spark):
    from hdsp_hive_release_src_spark.queries.builtin_functions.numeric import (
        _TRY_GRID,
    )

    registry.load_all()
    rows = {
        r.label: r
        for r in registry.QUERIES["try_arith_family"](
            spark, SF
        ).collect()
    }

    def guard(v: int):
        return v if I64_MIN <= v <= I64_MAX else None

    arr = [10, 20, 30]
    for label, x, y, s, idx in _TRY_GRID:
        r = rows[label]
        assert r.add_r == guard(x + y), label
        assert r.sub_r == guard(x - y), label
        assert r.mul_r == guard(x * y), label
        if y == 0:
            assert r.div_r is None, label
        else:
            assert abs(r.div_r - x / y) < 1e-9, label
        try:
            want_cast = int(s)
        except ValueError:
            want_cast = None
        assert r.cast_r == want_cast, label
        if 1 <= idx <= 3:
            want_elem = arr[idx - 1]
        elif -3 <= idx <= -1:
            want_elem = arr[idx]
        else:
            want_elem = None
        assert r.elem_r == want_elem, label


def test_qualify_matches_python_topk(spark):
    registry.load_all()
    rows = [
        (r.pri, r.o_orderkey, r.cents)
        for r in registry.QUERIES["qualify_emulation"](
            spark, SF
        ).collect()
    ]
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    want = []
    for pri, g in o.groupby("o_orderpriority"):
        top = sorted(
            zip(g.o_totalprice, g.o_orderkey, g.cents),
            key=lambda t: (-t[0], t[1]),
        )[:2]
        want.extend(
            (pri, int(k), int(c)) for _p, k, c in top
        )
    want.sort(key=lambda t: (t[0], -t[2], t[1]))
    assert rows == want


def test_uniontype_matches_python_dispatch(spark):
    registry.load_all()
    rows = {
        r.tag: r
        for r in registry.QUERIES["hive_uniontype_emulation"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    agg: dict = defaultdict(
        lambda: {"n": 0, "f0": 0, "f1": [], "cents": 0}
    )
    for key, cust, pri, cents in zip(
        o.o_orderkey, o.o_custkey, o.o_orderpriority, o.cents
    ):
        tag = 0 if key % 2 == 0 else 1
        a = agg[tag]
        a["n"] += 1
        a["cents"] += int(cents)
        if tag == 0:
            a["f0"] += int(cust)
        else:
            a["f1"].append(pri)
    assert set(rows) == set(agg)
    for tag, a in agg.items():
        r = rows[tag]
        assert r.n == a["n"]
        # exactly-one-branch-active invariant
        assert r.n_f0_active == (a["n"] if tag == 0 else 0)
        assert r.n_f1_active == (a["n"] if tag == 1 else 0)
        assert r.f0_checksum == a["f0"]
        assert r.f1_min == (min(a["f1"]) if a["f1"] else "")
        assert r.cents == a["cents"]

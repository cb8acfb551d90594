"""Independent-model replays, batch 9 (round 11): the last
oracle-only math cluster. The hyperbolic matrix is replayed through
Python's ``math`` module — a THIRD engine next to Spark's JVM libm and
the DuckDB exp/log-identity oracle, so an impl+oracle pair that is
consistently wrong by the same factor (the Bollinger lesson) cannot
pass — and the KLL exact-mode quantiles are replayed with a
driver-side sorted-rank computation."""

from __future__ import annotations

import math

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def test_hyperbolic_matrix_vs_python_math(spark):
    registry.load_all()
    rows = registry.QUERIES["hyperbolic_trig_matrix"](
        spark, SF
    ).collect()
    li = _tbl("lineitem")
    xs = sorted({round(float(q) / 10.0, 1) for q in li.l_quantity})
    assert [r.x for r in rows] == xs
    for r in rows:
        x = r.x
        want = {
            "sinh_v": math.sinh(x),
            "cosh_v": math.cosh(x),
            "tanh_v": math.tanh(x),
            "asinh_v": math.asinh(x),
            "acosh_v": math.acosh(x + 1),
            "atanh_v": math.atanh(1 / (x + 1)),
            "atan_v": math.atan(x),
            "atan2_v": math.atan2(x, 2.0),
            "csc_v": 1 / math.sin(x),
            "sec_v": 1 / math.cos(x),
        }
        for col, v in want.items():
            assert abs(r[col] - round(v, 6)) <= 1e-9, (x, col)
        # the fundamental identity must survive rounding exactly
        assert r.identity_v == 1.0, (x, r.identity_v)


def test_kll_exact_quantiles_vs_sorted_rank_replay(spark):
    from hdsp_hive_release_src_spark.queries.stats.sketches import (
        KLL_K,
        KLL_MOD,
    )

    registry.load_all()
    rows = registry.QUERIES["kll_quantile_sketch_contract"](
        spark, SF
    ).collect()
    o = _tbl("orders")
    s = o[o.o_orderkey % KLL_MOD == 0].copy()
    s["c"] = (s.o_totalprice * 100).round().astype("int64")
    got = {
        r.priority: (
            r.n, r.min_cents, r.q1_cents, r.med_cents, r.q3_cents,
            r.max_cents,
        )
        for r in rows
    }
    assert set(got) == set(s.o_orderpriority.unique())
    for pr, grp in s.groupby("o_orderpriority"):
        vs = sorted(grp.c)
        n = len(vs)
        # the exact-regime precondition the query docstring claims
        assert n <= KLL_K, (pr, n)

        def at(q: float) -> int:
            # exact-mode get_quantile: inclusive rank ceil(q*n)-1
            return vs[max(0, math.ceil(q * n) - 1)]

        assert got[pr] == (
            n, vs[0], at(0.25), at(0.5), at(0.75), vs[-1]
        ), pr

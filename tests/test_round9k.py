"""Round-9 eleventh-wave properties: RA-index replay + cap bound,
changepoint gain identity, Markov row-mass, ATE weighted-fold
consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_ra_link_prediction_bounds_and_identity(spark):
    from hdsp_hive_release_src_spark.queries.graph import RA_DEG_CAP, RA_TOP

    rows = registry.QUERIES["ra_link_prediction"](spark, SF).collect()
    assert 1 <= len(rows) <= RA_TOP
    for r in rows:
        assert r.c1 < r.c2
        assert r.common_n >= 1
        # each shared neighbour contributes at least 1e6/cap micro
        assert r.ra_micro >= r.common_n * (1_000_000 // RA_DEG_CAP)
        # ... and at most 1e6 (degree >= 1 is impossible below common)
        assert r.ra_micro <= r.common_n * 1_000_000
        assert 0 < r.jaccard_permille <= 1000
    # descending ra with (c1, c2) tiebreak
    key = [(-r.ra_micro, r.c1, r.c2) for r in rows]
    assert key == sorted(key)


def test_binseg_gain_matches_python_replay(spark):
    """Recompute every split's gain from the daily series in Python
    and check the query returns the true top splits."""
    rows = registry.QUERIES["binseg_changepoint_gain"](
        spark, SF
    ).collect()
    assert rows
    daily = sorted(
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.expr(
                "cast(sum(cast(round(value*100) as bigint)) div 10000"
                " as bigint)"
            ).alias("v")
        )
        .collect(),
        key=lambda r: r.d,
    )
    n = len(daily)
    sn = sum(r.v for r in daily)
    gains = []
    sk = 0
    for k, r in enumerate(daily[:-1], start=1):
        sk += r.v
        num = (sk * n - k * sn) ** 2
        gains.append((num // (k * (n - k) * n), r.d, k, sk))
    gains.sort(key=lambda t: (-t[0], t[1]))
    for row, (gain, d, k, sk) in zip(rows, gains):
        assert row.gain == gain
        assert row.split_date == d
        assert row.split_k == k
        assert row.left_mean_units == sk // k
        assert row.right_mean_units == (sn - sk) // (n - k)


def test_markov_two_step_row_mass(spark):
    rows = registry.QUERIES["markov_two_step"](spark, SF).collect()
    assert rows
    mass: dict = {}
    for r in rows:
        assert 0 <= r.p2_micro <= 1_000_000
        assert 0 <= r.p1_micro <= 1_000_000
        mass[r.from_type] = mass.get(r.from_type, 0) + r.p2_micro
    # each row of P^2 sums to ~1 (truncation loses < 1000 micro per
    # contributing cell pair)
    for k, m in mass.items():
        assert 900_000 <= m <= 1_000_000, (k, m)


def test_ate_all_row_is_weighted_fold_of_strata(spark):
    rows = registry.QUERIES["stratified_ate_gcomputation"](
        spark, SF
    ).collect()
    per = [r for r in rows if r.stratum != "_all"]
    allr = [r for r in rows if r.stratum == "_all"]
    assert per and len(allr) == 1
    a = allr[0]
    assert a.n_treat == sum(r.n_treat for r in per)
    assert a.n_ctrl == sum(r.n_ctrl for r in per)
    num = sum(
        (r.n_treat + r.n_ctrl) * r.effect_cents for r in per
    )
    den = sum(r.n_treat + r.n_ctrl for r in per)
    # python // floors while div truncates toward zero; replicate
    q = abs(num) // den
    assert a.effect_cents == (q if num >= 0 else -q)
    for r in per:
        assert r.effect_cents == r.mean_treat_cents - r.mean_ctrl_cents


def test_binseg_gain_agrees_with_float_sse_model(spark):
    """Independent float model (the Bollinger discipline): the gain
    the query computes by the cross-multiplied integer identity
    (S_k·n − k·S_n)² / (k·(n−k)·n) must agree with the DEFINITION it
    encodes — the between-segment variance reduction
    SSE(all) − SSE(left) − SSE(right) computed in plain float from
    the daily values. An impl+oracle pair sharing a wrong factor
    passes parity; it cannot pass this."""
    import numpy as np

    rows = registry.QUERIES["binseg_changepoint_gain"](
        spark, SF
    ).collect()
    daily = sorted(
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.expr(
                "cast(sum(cast(round(value*100) as bigint)) div 10000"
                " as bigint)"
            ).alias("v")
        )
        .collect(),
        key=lambda r: r.d,
    )
    v = np.array([r.v for r in daily], dtype=np.float64)
    n = len(v)

    def sse(a):
        return float(((a - a.mean()) ** 2).sum()) if len(a) else 0.0

    total = sse(v)
    float_gain = {
        daily[k - 1].d: total - sse(v[:k]) - sse(v[k:])
        for k in range(1, n)
    }
    for row in rows:
        # integer gain floors the exact rational; float SSE carries
        # ~1 ulp of 1e10-scale arithmetic — tolerance 2 units covers
        # both without masking a wrong factor (gains are O(1e6+))
        assert abs(row.gain - float_gain[row.split_date]) <= 2.0, row
    # and the query's top split is the float model's argmax
    best = max(float_gain.items(), key=lambda t: (t[1], t[0]))
    assert rows[0].split_date == best[0]

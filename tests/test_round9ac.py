"""Round-9 twenty-ninth-wave properties: conformal coverage
guarantee, QTE Python replay."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_conformal_finite_sample_coverage_holds(spark):
    from hdsp_hive_release_src_spark.queries.stats.inference import (
        CONF_LEVEL_PERMILLE,
    )

    row = registry.QUERIES["conformal_prediction_interval"](
        spark, SF
    ).collect()[0]
    assert row.n_cal > 0 and row.n_test > 0
    assert row.q_hat_cents > 0
    # the split-conformal guarantee is MARGINAL (in expectation over
    # splits); a fixed even/odd split realizes it up to binomial
    # noise — assert within 3 sigma of the level (sf0.001 observed
    # 880 at n_test=750, ~1.8 sigma low: noise, not a bug)
    import math

    p = CONF_LEVEL_PERMILLE / 1000
    slack = math.ceil(3 * math.sqrt(p * (1 - p) / row.n_test) * 1000)
    assert row.coverage_permille >= CONF_LEVEL_PERMILLE - slack, row
    # and it shouldn't be vacuously 1000 at this calibration size
    assert row.coverage_permille < 1000


def test_qte_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.functions.hashing import CMS_P
    from hdsp_hive_release_src_spark.queries.stats.inference import (
        QTE_MOD,
        QTE_TAUS,
    )
    from hdsp_hive_release_src_spark.queries.stats.inference import (
        ATE_A,
        ATE_B,
    )

    rows = {
        r.tau_permille: r
        for r in registry.QUERIES["quantile_treatment_effect"](
            spark, SF
        ).collect()
    }
    assert set(rows) == set(QTE_TAUS)
    sample = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("event_id") % QTE_MOD == 0)
        )
        .select("user_id", F.round(F.col("value") * 100).cast("long")
                .alias("c"))
        .collect()
    )
    arms: dict = {0: [], 1: []}
    for r in sample:
        arms[(ATE_A * r.user_id + ATE_B) % CMS_P % 2].append(r.c)
    for a in arms.values():
        a.sort()
        assert a  # both arms populated
    for tau in QTE_TAUS:
        def pick(vals):
            return vals[math.floor((len(vals) - 1) * tau / 1000.0)]

        r = rows[tau]
        assert r.q_treat_cents == pick(arms[1])
        assert r.q_ctrl_cents == pick(arms[0])
        assert r.qte_cents == r.q_treat_cents - r.q_ctrl_cents


def test_conformal_matches_python_replay(spark):
    """Independent Python replay (the Bollinger discipline): split,
    per-priority integer-mean model, q̂ as the ⌈0.9·(n+1)⌉-th order
    statistic of a plain sorted list, and coverage — recomputed from
    raw rows without the TakeOrdered probe or any SQL — must pin all
    four output cells to the digit."""
    row = registry.QUERIES["conformal_prediction_interval"](
        spark, SF
    ).collect()[0]
    raw = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select(
            (F.col("o_orderkey") % 2).alias("arm"),
            F.col("o_orderpriority").alias("p"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("c"),
        )
        .collect()
    )
    from collections import defaultdict

    sums: dict = defaultdict(lambda: [0, 0])
    for r in raw:
        if r.arm == 0:
            sums[r.p][0] += r.c
            sums[r.p][1] += 1
    mu = {p: s // n for p, (s, n) in sums.items()}
    cal = sorted(abs(r.c - mu[r.p]) for r in raw if r.arm == 0)
    test = [abs(r.c - mu[r.p]) for r in raw if r.arm == 1 and r.p in mu]
    n_cal = len(cal)
    k = math.ceil(0.9 * (n_cal + 1))
    q_hat = cal[k - 1]
    covered = sum(1 for r in test if r <= q_hat)
    assert row.n_cal == n_cal
    assert row.n_test == len(test)
    assert row.q_hat_cents == q_hat
    assert row.coverage_permille == covered * 1000 // len(test)

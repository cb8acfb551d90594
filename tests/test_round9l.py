"""Round-9 twelfth-wave properties: RAKE score identity vs a Python
replay, try_* NULL pattern, KM risk-set telescoping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_rake_matches_python_replay(spark):
    """Recompute the full RAKE pipeline in Python over the sf0.001
    English docs and compare the returned top-k exactly."""
    from hdsp_hive_release_src_spark.functions.text import STOPWORDS_EN
    from hdsp_hive_release_src_spark.queries.text.corpus import (
        RAKE_MAX_LEN,
        RAKE_MIN_LEN,
        RAKE_TOP,
    )

    rows = registry.QUERIES["rake_keyword_phrases"](spark, SF).collect()
    assert 1 <= len(rows) <= RAKE_TOP

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("lang") == "en")
        .select("doc_id", "text")
        .collect()
    )
    stop = set(STOPWORDS_EN)
    phrases = []  # list[list[str]]
    for d in docs:
        run: list = []
        for w in d.text.split(" "):
            if not w or w in stop:
                if RAKE_MIN_LEN <= len(run) <= RAKE_MAX_LEN:
                    phrases.append(run)
                run = []
            else:
                run.append(w)
        if RAKE_MIN_LEN <= len(run) <= RAKE_MAX_LEN:
            phrases.append(run)
    freq: dict = {}
    deg: dict = {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    score = {w: deg[w] * 1000 // freq[w] for w in freq}
    agg: dict = {}
    for p in phrases:
        key = " ".join(p)
        s = sum(score[w] for w in p)
        n, _ = agg.get(key, (0, 0))
        agg[key] = (n + 1, s)
    ranked = sorted(
        ((s, k, n, len(k.split(" "))) for k, (n, s) in agg.items()),
        key=lambda t: (-t[0], t[1]),
    )[:RAKE_TOP]
    assert len(rows) == len(ranked)
    for row, (s, k, n, plen) in zip(rows, ranked):
        assert (row.phrase, row.phrase_len, row.n_occurrences,
                row.score_milli) == (k, plen, n, s)


def test_try_arith_null_pattern(spark):
    rows = {
        r.label: r
        for r in registry.QUERIES["try_arith_family"](
            spark, SF
        ).collect()
    }
    assert rows["add_ovf"].add_r is None
    assert rows["add_ovf"].sub_r == 9223372036854775806
    assert rows["sub_ovf"].sub_r is None
    assert rows["sub_ovf"].add_r == -9223372036854775807
    assert rows["mul_ovf"].mul_r is None
    assert rows["mul_ovf"].cast_r is None  # 'abc'
    assert rows["mul_ovf"].elem_r == 30  # idx -1 = from the end
    assert rows["div_zero"].div_r is None
    assert rows["div_zero"].elem_r is None  # idx 5 out of range
    assert rows["ok_small"].add_r == 43
    assert rows["ok_small"].mul_r == 82
    assert rows["ok_small"].div_r == 20.5
    assert rows["ok_small"].cast_r == 7
    assert rows["ok_small"].elem_r == 20


def test_km_risk_set_telescopes(spark):
    rows = sorted(
        registry.QUERIES["km_survival_hazard"](spark, SF).collect(),
        key=lambda r: r.t_days,
    )
    assert rows
    total_users = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    # n_risk at the smallest t covers everyone; each step removes
    # exactly the previous step's exits
    assert rows[0].n_risk == total_users
    for a, b in zip(rows, rows[1:]):
        assert b.n_risk == a.n_risk - a.d_events - a.n_censored
    assert sum(r.d_events for r in rows) > 0
    assert sum(r.n_censored for r in rows) > 0
    for r in rows:
        assert r.hazard_permille == r.d_events * 1000 // r.n_risk

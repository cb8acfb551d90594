"""Round-9 fourth-wave properties: QUALIFY emulation cardinality, the
soundex oracle formula validated against Spark's builtin on every
probed edge class, uniontype invariants, multibyte identities, PCA
loading bounds + partitioning invariance, REBALANCE plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"

#: the 23 probe names covering every soundex edge class (H/W
#: transparency, first-code collapse, vowel separation, all-vowel
#: tails, single letters, digits stripped)
_SX_NAMES = [
    "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak",
    "Pfister", "Honeyman", "Euler", "Gauss", "Hilbert", "Knuth",
    "Lloyd", "Lukasiewicz", "Wheaton", "burnished", "chocolate",
    "lemon", "yellow", "aquamarine", "Aaa", "Hh", "Wk", "What",
]


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_qualify_emulation_two_per_group(spark):
    rows = registry.QUERIES["qualify_emulation"](spark, SF).collect()
    per = {}
    for r in rows:
        per.setdefault(r.pri, []).append(r.cents)
    assert all(len(v) == 2 for v in per.values())
    assert all(v[0] >= v[1] for v in per.values())


def test_soundex_oracle_formula_matches_spark_builtin(spark, duck):
    """The DuckDB soundex replay (translate + H/W transparency +
    index-lambda collapse + conditional first-code drop) must equal
    Spark's builtin on every probe name — this is the oracle's
    correctness proof, run on adversarial names the parquet corpus
    doesn't contain."""
    from hdsp_hive_release_src_spark.queries.text.corpus import (
        _SX_FROM,
        _SX_TO,
    )

    spark_sx = {
        r.w: r.sx
        for r in spark.createDataFrame(
            [(n,) for n in _SX_NAMES], "w string"
        )
        .select("w", F.soundex("w").alias("sx"))
        .collect()
    }
    names_sql = ", ".join(f"('{n}')" for n in _SX_NAMES)
    duck_rows = duck.execute(
        f"""
        WITH words AS (SELECT w FROM (VALUES {names_sql}) t(w)),
        s1 AS (
          SELECT w, upper(w) AS s,
                 replace(translate(upper(w), '{_SX_FROM}',
                                   '{_SX_TO}'), '-', '') AS d2
          FROM words),
        s2 AS (SELECT w, s, string_split(d2, '') AS ch FROM s1),
        s3 AS (
          SELECT w, s,
                 list_aggr(list_filter(ch,
                   (x, i) -> i = 1 OR x <> ch[i - 1]),
                   'string_agg', '') AS c
          FROM s2),
        s4 AS (
          SELECT w, s,
                 translate(substr(s, 1, 1), '{_SX_FROM}',
                           '{_SX_TO}') AS fc,
                 replace(coalesce(c, ''), '~', '') AS digits_all
          FROM s3)
        SELECT w,
               substr(s, 1, 1)
               || rpad(substr(CASE WHEN fc BETWEEN '1' AND '6'
                                   THEN substr(digits_all, 2)
                                   ELSE digits_all END, 1, 3),
                       3, '0') AS code
        FROM s4
        """
    ).fetchall()
    duck_sx = dict(duck_rows)
    assert duck_sx == spark_sx


def test_uniontype_single_active_branch(spark):
    rows = registry.QUERIES["hive_uniontype_emulation"](
        spark, SF
    ).collect()
    by_tag = {r.tag: r for r in rows}
    assert set(by_tag) == {0, 1}
    assert by_tag[0].n_f0_active == by_tag[0].n
    assert by_tag[0].n_f1_active == 0
    assert by_tag[1].n_f1_active == by_tag[1].n
    assert by_tag[1].n_f0_active == 0


def test_multibyte_identities(spark):
    rows = registry.QUERIES["multibyte_length_semantics"](
        spark, SF
    ).collect()
    for r in rows:
        assert r.sum_bits == 8 * r.sum_bytes
        assert r.sum_bytes > r.sum_chars  # at least one é per brand


def test_pca_loading_bounds_and_invariance(spark):
    fn = registry.QUERIES["pca_power_iteration_exact"]
    rows = fn(spark, SF).orderBy("dim").collect()
    assert len(rows) == 64
    loads = [r.loading_permille for r in rows]
    assert all(-1000 <= x <= 1000 for x in loads)
    assert max(abs(x) for x in loads) == 1000
    base = loads
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = [
            r.loading_permille
            for r in fn(spark, SF).orderBy("dim").collect()
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt


def test_rebalance_hint_plan_and_parity(spark):
    df = registry.QUERIES["rebalance_hint_partitioning"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in plan or "rebalance" in plan.lower()
    hinted = {(r.pri, r.n, r.cents) for r in df.collect()}
    plain = {
        (r.pri, r.n, r.cents)
        for r in spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            ).alias("cents"),
        )
        .collect()
    }
    assert hinted == plain

"""Property tests for the two-pass exact heavy-hitters operator
(operators/sketches.py): the Misra-Gries candidate union must be a
SUPERSET of every true heavy hitter under any partitioning, and the
final output must equal the exact groupBy answer."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.operators.sketches import (
    heavy_hitters,
    mg_candidates,
)

DEN = 20  # epsilon = 5%


def _corpus(seed: int) -> list[str]:
    rng = random.Random(seed)
    items = []
    # a few genuinely heavy items + a long tail
    for hh, w in (("alpha", 300), ("beta", 120), ("gamma", 80)):
        items += [hh] * w
    items += [f"tail{rng.randrange(500)}" for _ in range(700)]
    rng.shuffle(items)
    return items


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("parts", [1, 4, 13])
@pytest.mark.parametrize("sort_first", [False, True])
def test_mg_candidates_superset(spark, seed, parts, sort_first):
    items = _corpus(seed)
    n = len(items)
    true_hh = {
        i for i, c in Counter(items).items() if c * DEN > n
    }
    df = spark.createDataFrame([(x,) for x in items], "t string")
    # adversarial layout: sorting clusters each item into one
    # partition (max local skew); shuffled spreads it evenly
    df = (
        df.orderBy("t").repartitionByRange(parts, "t")
        if sort_first
        else df.repartition(parts)
    )
    cand = {
        r.item for r in mg_candidates(df, "t", DEN + 1).collect()
    }
    assert true_hh <= cand, (true_hh - cand, parts, sort_first)


@pytest.mark.parametrize("parts", [1, 7])
def test_heavy_hitters_exact(spark, parts):
    items = _corpus(42)
    n = len(items)
    exact = {
        i: c for i, c in Counter(items).items() if c * DEN > n
    }
    df = spark.createDataFrame(
        [(x,) for x in items], "t string"
    ).repartition(parts)
    got = {
        r.item: (r.n, r.frac)
        for r in heavy_hitters(df, "t", DEN).collect()
    }
    assert set(got) == set(exact)
    for i, c in exact.items():
        assert got[i][0] == c
        assert abs(got[i][1] - c / n) < 1e-6


def test_no_heavy_hitters_uniform(spark):
    """A uniform corpus has no items above the threshold — the
    operator must return empty, not the candidate noise."""
    items = [f"u{i % 200}" for i in range(1000)]
    df = spark.createDataFrame([(x,) for x in items], "t string")
    assert heavy_hitters(df, "t", DEN).count() == 0


def test_heavy_hitters_plan_shape(spark, sf_dir):
    """The scale contract in the plan: candidates reach the corpus
    via a BROADCAST join (never a vocabulary-wide shuffle join). The
    r12 operator folds the recount behind a localCheckpoint, so the
    assert runs on the PRE-checkpoint recount pipeline — the same
    vals/cand join the operator materializes."""
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.catalog import Catalog
    from hdsp_hive_release_src_spark.operators.sketches import (
        mg_candidates,
    )
    from hdsp_hive_release_src_spark.queries.text.corpus import HH_DEN

    d = Catalog(spark, sf_dir).documents
    vals = d.select(
        F.explode(
            F.expr("filter(split(text, ' '), x -> x != '')")
        ).alias("__hh_val")
    )
    cand = mg_candidates(vals, "__hh_val", HH_DEN + 1).distinct()
    recount = (
        vals.join(
            F.broadcast(cand),
            F.col("__hh_val") == F.col("item"),
            "left",
        )
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = recount._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # and the full query's final plan reads the checkpoint — zero
    # parquet re-scans above it (the r12 scan-count contract)
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    df = registry.QUERIES["heavy_hitters_topk"](spark, sf_dir)
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in full
    assert "SortMergeJoin" not in full


def test_url_canonical_groups(spark, sf_dir):
    """Every canonical group's members must re-canonicalize to the
    group key, and keeper is the min doc_id (spot invariants beyond
    the oracle)."""
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    out = registry.QUERIES["url_canonical_dedup"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    assert all("#" not in r.canonical_url for r in rows)
    assert all("utm_" not in r.canonical_url for r in rows)
    assert all(":443" not in r.canonical_url for r in rows)
    assert all(
        r.canonical_url == r.canonical_url.split("?")[0]
        or "id=" in r.canonical_url
        for r in rows
    )


def test_fixed_size_hash_sample_plan_and_determinism(spark, sf_dir):
    """Plan must be TakeOrderedAndProject (per-partition top-k heap,
    O(k) memory) — never a single-partition global sort; and the
    chosen id set must be identical under different partitionings."""
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    fn = registry.QUERIES["fixed_size_hash_sample"]
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    base = df.collect()[0]
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        again = fn(spark, sf_dir).collect()[0]
    finally:
        spark.conf.unset("spark.sql.shuffle.partitions")
    assert base.id_checksum == again.id_checksum
    assert base.k == again.k


def test_interval_overlap_join_no_cartesian(spark, sf_dir):
    """The grid-bucketed range join must plan as an equi-join on the
    bucket id — never a cartesian/nested-loop product."""
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    df = registry.QUERIES["interval_overlap_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_weighted_sample_tilts_toward_weight(spark, sf_dir):
    """Inclusion must be weight-proportional: the weighted sample's
    mean n_chars should exceed the corpus mean (and the operator is
    deterministic across partitionings)."""
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.catalog import Catalog

    registry.load_all()
    fn = registry.QUERIES["weighted_sample_topk"]
    row = fn(spark, sf_dir).collect()[0]
    corpus_avg = (
        Catalog(spark, sf_dir)
        .documents.agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    assert row.k == 100
    assert row.weight_sum / row.k > corpus_avg
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        again = fn(spark, sf_dir).collect()[0]
    finally:
        spark.conf.unset("spark.sql.shuffle.partitions")
    assert again.id_checksum == row.id_checksum


def test_not_in_null_plans_null_aware_anti_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    cat.customer.createOrReplaceTempView("naaj_customer")
    cat.orders.createOrReplaceTempView("naaj_orders")
    df = spark.sql(
        """
        SELECT count(*) FROM naaj_customer
        WHERE c_custkey NOT IN
              (SELECT CASE WHEN o_orderkey = 999 THEN NULL
                           ELSE o_custkey END
               FROM naaj_orders WHERE o_orderkey < 1000)
        """
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark encodes null-aware anti join as the trailing boolean flag
    # on the LeftAnti BroadcastHashJoin line
    assert any(
        "LeftAnti" in line and line.rstrip().endswith("true")
        for line in plan.splitlines()
    ), plan


def test_cusum_closed_form_matches_recursion(spark):
    """The window-expressible closed form S_t = C_t - min(0, min C_i)
    must equal Page's recursion S_t = max(0, S_(t-1) + x_t - k)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(7)
    xs = [rng.randrange(0, 20) for _ in range(60)]
    k = 10
    # recursive reference
    want, s = [], 0
    for x in xs:
        s = max(0, s + x - k)
        want.append(s)
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "t long, x long"
    )
    w = Window.orderBy("t")
    got = (
        df.withColumn("cum", F.sum(F.col("x") - F.lit(k)).over(w))
        .withColumn(
            "s", F.col("cum") - F.least(F.lit(0), F.min("cum").over(w))
        )
        .orderBy("t")
        .collect()
    )
    assert [r.s for r in got] == want

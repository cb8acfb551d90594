"""Query registry: the single source of truth wiring SURVEY.md §2 names
to (a) a Spark DataFrame implementation and (b) an optional DuckDB oracle
SQL string. ``__spark_entry__.py`` re-exports these for the driver.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hdsp_hive_release_src_spark.certification import LAST_CERTIFIED

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under its SURVEY.md §2 name.

    ``oracle`` is ANSI/DuckDB SQL over the pre-registered parquet views
    (region nation customer supplier part orders lineitem events
    documents embeddings). Omit it only for genuinely non-SQL ops —
    the driver then records a weaker rows-only check.

    The REGISTERED callable (what the driver/bench/sweeps invoke via
    ``QUERIES[name]``) is a thin wrapper that first flushes any cache
    releases the PREVIOUS query deferred to its boundary
    (operators/materialize.defer_release — r16): every harness runs
    queries sequentially (call → collect → call next), so flushing at
    call time releases each query's deferred caches right after its
    consumer's collect. The raw function is returned unwrapped for
    direct imports (tests composing query bodies).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def at_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
            from hdsp_hive_release_src_spark.operators.materialize import (
                flush_pending_releases,
            )

            flush_pending_releases()
            return fn(spark, sf_dir)

        QUERIES[name] = at_boundary
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# Verification walk order (the standing rotation policy, r10 verdict
# item 2): the driver samples the FIRST 50 registry names each round,
# so the walk order IS the certification schedule. It is computed, not
# hand-maintained:
#
#   1. _CHANGED_THIS_ROUND — queries whose plan or operator changed
#      this round. Their old green rows predate the change, so they
#      re-certify first. Hand-edited each round alongside the change.
#   2. _NEVER_CERTIFIED — queries with no driver correctness row ever
#      (tests/test_verify_rotation.py proves this list exhaustive).
#      Kept in wave order. Empty once the r11 window lands.
#   3. Everything else, ascending (last-certified round, name) from
#      the generated certification.LAST_CERTIFIED map — so the stalest
#      certifications (r1/r2 rows that predate the r4 testdata
#      migration and r8 canonicalization hardening) recycle first,
#      oldest-first, ~44-50 per round.
#
# Regenerate certification.py each round with
# tools/gen_certification.py after the driver lands the previous
# round's CORRECTNESS file.

# round 17: registry still frozen at 494. Two re-plans this round
# (optimization round 2 of 2), both values-identical and oracle
# re-proven, re-certify first per the standing plan-or-operator-
# changed policy:
#   * the shared shingle pair-generation core (operators/jaccard.py
#     shingle_pair_counts) now groups the pair aggregation on
#     (d1, d2) alone — per-doc sizes ride as max() aggregates (n is
#     functionally dependent on the doc id) — and
#     dedup_ngram_jaccard additionally passes min_jaccard=0.5, an
#     exact-safe size filter (min(n1,n2) ≥ 0.5·max ⟸ J ≥ 0.5) that
#     drops ~24% of candidate incidences before the aggregation.
#     All six consumers of the core re-certify.
#   * semantic_dedup's three scratch-parquet materializations
#     (group / assignment / membership tables) are now
#     localCheckpoint / DISK_ONLY-persist-with-deferred-release
#     (queries/vectors.py docstring) — same single-build lifecycle, no file
#     I/O, 2 executed corpus scans unchanged.
# The remaining slots continue the staleness drain (oldest
# last-certified rounds first, from the regenerated certification).
_CHANGED_THIS_ROUND: tuple[str, ...] = (
    "dedup_ngram_jaccard",
    "dedup_containment",
    "incremental_dedup_minhash",
    "cross_source_dedup_matrix",
    "dedup_threshold_sweep",
    "minhash_estimate_accuracy",
    "semantic_dedup",
    # (pagerank_trade_graph was audited this round — its per-round
    # contrib exchanges were re-planned as a co-partitioned persist,
    # MEASURED flat-to-worse at replica scale, and the r16 checkpoint
    # shape kept: graph.py comment. Final plan unchanged from r16, so
    # it does not re-certify.)
    # r17 (verdict item 8): both MV rollups rounded the DOUBLE image
    # of an exact decimal revenue sum — the q9 half-boundary class,
    # caught by the audit's new float-image scan; engine and oracle
    # now round the exact decimal before the cast, in lockstep
    # (queries/olap.py). sf0.01 values unchanged (verified); plan
    # changed, so they re-certify.
    "mv_auto_rewrite",
    "materialized_view_rewrite",
    # transitive consumers of the reshaped jaccard pair core
    # (_jaccard_pairs_exact → shingle_pair_counts): their plans carry
    # the new 2-key aggregation + size filter, so they re-certify.
    "dedup_components",
    "dedup_keep_best",
    "quality_filter_pipeline",
)

# Empty as of r11: every registered query now has a driver correctness
# row (CORRECTNESS_r11 landed all 44 wave-19-29 names). New queries go
# here until their first driver row lands.
_NEVER_CERTIFIED: tuple[str, ...] = ()

_VERIFY_FIRST = (
    _CHANGED_THIS_ROUND
    + _NEVER_CERTIFIED
    + tuple(
        sorted(
            (
                n
                for n in LAST_CERTIFIED
                if n not in _CHANGED_THIS_ROUND
                and n not in _NEVER_CERTIFIED
            ),
            key=lambda n: (LAST_CERTIFIED[n], n),
        )
    )
)


def load_all() -> None:
    """Import every module under ``queries/`` so registration side
    effects run, then apply the _VERIFY_FIRST walk order (see its
    comment) to QUERIES and ORACLES. Modules are found by discovery:
    a new query module needs no entry here."""
    from hdsp_hive_release_src_spark import queries

    for mod in pkgutil.walk_packages(queries.__path__, queries.__name__ + "."):
        importlib.import_module(mod.name)

    ordered = {n: QUERIES[n] for n in _VERIFY_FIRST if n in QUERIES}
    ordered.update(
        (n, f) for n, f in QUERIES.items() if n not in ordered
    )
    QUERIES.clear()
    QUERIES.update(ordered)
    oracles = {n: ORACLES[n] for n in QUERIES if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(oracles)

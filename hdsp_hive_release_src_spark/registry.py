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
    ``QUERIES[name]``) is a thin wrapper that first runs the query
    boundary (operators/materialize.flush_pending_releases): it
    releases every cache and checkpoint the session holds — everything
    the PREVIOUS call made, and anything else cached in the session.
    That is the only release point. The contract:
    every harness runs call → collect → call next, so the boundary
    falls after the previous consumer's action. Its failure mode: a
    frame acted on after the next registered call fails loudly
    ("Checkpoint block not found") when its plan reads a checkpoint,
    and silently recomputes a released persist. Never build query B
    before collecting query A; concurrent queries in one session need
    a per-invocation scope this wrapper does not provide. The raw
    function is returned unwrapped for direct imports (tests composing
    query bodies).
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

# The registry is frozen at 494. One cache-lifecycle change re-plans
# nine queries, which re-certify first per the standing
# plan-or-operator-changed policy: their results used to be eagerly
# localCheckpointed before return (six through the retired
# checkpoint-and-release helper, three through the operators' retired
# finalize hooks), so each returned plan was a checkpoint leaf. Each
# now returns its frame lazily and the query boundary releases the
# caches (operators/materialize.py), so the returned plan is the
# inner plan. Values are unchanged. The remaining slots continue the
# staleness drain (oldest last-certified rounds first, from the
# regenerated certification).
_CHANGED_THIS_ROUND: tuple[str, ...] = (
    "rake_keyword_phrases",
    "conformal_prediction_interval",
    "mad_outliers",
    "funnel_windowed_strict",
    "table_diff_reconcile",
    "cohort_ltv_matrix",
    "trimmed_mean",
    "histogram_equi_depth",
    "kmeans_clusters",
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

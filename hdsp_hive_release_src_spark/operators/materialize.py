"""Materialization discipline for multi-consumer intermediates.

Two tiers, chosen by ROW COUNT of the intermediate (SURVEY.md §4;
r12 scan-sweep + r13 advice):

* **Reduced tables** (aggregate / edge / vocab / model-sized — rows
  bounded by a dimension, a group count, or a sketch size, NOT by the
  fact table): ``localCheckpoint(eager=True)``. Cheap to rebuild the
  plan from, tiny to store, and cutting lineage is exactly what the
  iterative operators need (operators/components.py discipline). An
  executor loss costs a re-run of a small job.

* **Fact-row-count tables** (one row per fact row, however narrow the
  projection): ``persist_fact_rows`` → ``persist(DISK_ONLY)``, never
  ``localCheckpoint``. localCheckpoint materializes to NON-RELIABLE
  executor-local storage AND severs lineage — on executor loss (or
  any scale-in under dynamic allocation) the data is simply gone and
  the whole query fails. DISK_ONLY persist keeps the bytes off-heap
  and off-memory but RETAINS lineage, so a lost block is recomputed
  from the pruned columnar scan instead of killing the query. At
  100 TB the trade per consumer beyond the first is: one serialized
  local-disk read of the narrow projection vs a re-scan of the full
  columnar table; when local disk is the scarcer resource, dropping
  the persist and paying the second pruned scan is the documented
  fallback (see q17's pin in tests/test_scan_counts.py).

Runtime truth for both tiers is pinned by
tests/test_scan_counts.py::test_runtime_fact_scans_pinned via
plans/runtime.py (executed-scan counting — plan-leaf pins cannot see
scans that run at build time behind a checkpoint).

Lifecycle — one rule, one release point: every cache and checkpoint a
query makes (either tier here, and every raw ``localCheckpoint`` or
``persist`` in a query body) lives until the registry's query
boundary, ``flush_pending_releases``, and no longer. Nothing releases
inside a query: a query returns its frame lazily, the consumer's
action reads the materializations the build made (one executed scan
per materialized input), and the boundary drops them all. The
registry wrapper runs the boundary when the NEXT registered query is
called; every harness runs call → collect → call next, so the
boundary always falls after the previous consumer's action. Failure
mode: a frame acted on AFTER a later registered call has run reads
released blocks — a checkpoint leaf fails loudly ("Checkpoint block
not found"), a persist silently recomputes from lineage. Never build
query B before collecting query A in one session.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def persist_fact_rows(df: DataFrame) -> DataFrame:
    """DISK_ONLY-persist a fact-row-count intermediate (see module
    docstring for why this is never localCheckpoint)."""
    return df.persist(StorageLevel.DISK_ONLY)


def flush_pending_releases() -> int:
    """The query boundary (module docstring): drop every cached table,
    then unpersist every RDD the SparkContext still holds — the
    localCheckpoint blocks included, which no catalog call reaches —
    and forget the registered checkpoints. Returns how many persistent
    RDDs the boundary released; 0 without an active SparkContext."""
    if SparkContext._active_spark_context is None:
        return 0
    spark = SparkSession.active()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    n = persistent().size()
    spark.catalog.clearCache()
    for rdd in list(persistent().values()):
        rdd.unpersist(False)
    _REDUCED_CHECKPOINT_RDD_IDS.clear()
    return n


# ---------------------------------------------------------------------------
# Automatic tier selection (r13 advice): operators that materialize a
# CALLER-supplied frame (operators/ranking.py) cannot trust a comment
# that "inputs are always reduced" — two call sites already pass full
# fact-row orders projections. The tier is therefore derived from the
# optimized logical plan: a frame is *reduced-rooted* iff every path
# from the root to a leaf passes through a row-bounding node
# (Aggregate / Deduplicate / Limit) or ends in an already-materialized
# reduced frame (LogicalRDD — under this discipline only reduced
# frames are ever localCheckpointed, so a checkpoint leaf IS a prior
# reduced materialization) or a literal LocalRelation, crossing only
# row-preserving operators (Project/Filter/Sort/Window/...). Joins are
# reduced only if EVERY child is — a fact scan on any input makes the
# whole frame fact-tier. Unknown node types classify as fact: the
# failure mode of a wrong "fact" call is a cheap DISK_ONLY persist of
# a small table; the failure mode of a wrong "reduced" call is a
# fact-row localCheckpoint on non-reliable executor-local storage.

# same row count (or fewer, for Filter/Sample) as their single child —
# classification passes through
_ROW_PRESERVING = frozenset(
    {
        "Project",
        "Filter",
        "Sort",
        "Window",
        "WindowGroupLimit",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "ResolvedHint",
        "UnresolvedHint",
        "Sample",
        "SubqueryAlias",
    }
)

# row count bounded independently of any fact table beneath.
# CONVENTION LIMIT (r14 ADVICE): Aggregate/Deduplicate keyed at FACT
# grain (groupBy on an order key, dropDuplicates on a unique id) is
# still fact-row-sized yet classifies reduced here — the plan cannot
# see key cardinality. The repo-wide convention that keeps this sound:
# callers only route frames through the reduced tier whose grouping /
# dedup keys are DIMENSION- or bucket-grain (cluster ids, day grain,
# range ids, group keys), never a per-fact-row unique key. A future
# caller with a fact-grain aggregate must take persist_fact_rows
# directly; the classifier will not catch it.
_REDUCING = frozenset(
    {"Aggregate", "Deduplicate", "GlobalLimit", "LocalLimit"}
)

# leaves that are reduced by construction (literals / one-row)
_REDUCED_LEAVES = frozenset(
    {"LocalRelation", "OneRowRelation", "OneRowRelation$"}
)

# r15 (r14 verdict item 4): checkpoint leaves are VERIFIED, not
# assumed. Until r14 a LogicalRDD leaf classified reduced on the
# discipline argument "only reduced frames are ever localCheckpointed
# here" — true of every call site then, but one future fact-sized
# localCheckpoint anywhere would both BE the bug and make the
# classifier bless its re-materialization. checkpoint_reduced() below
# registers the RDD id of every checkpoint this module creates from a
# plan-proven reduced frame; _node_reduced admits exactly those ids.
# An UNREGISTERED LogicalRDD (a query-level .localCheckpoint(), a
# frame from another session, anything) classifies FACT — the safe
# tier: the cost of a wrong "fact" call is a cheap DISK_ONLY persist
# of a small table, never a fact-row localCheckpoint. Keys are
# (applicationId, rdd_id): RDD ids restart from 0 with a new
# SparkContext, so a bare id registered in a dead context could bless
# an arbitrary RDD in its successor. The query boundary
# (flush_pending_releases) releases every checkpoint and empties the
# set, so it holds one query's checkpoints at most.
_REDUCED_CHECKPOINT_RDD_IDS: set[tuple[str, int]] = set()


def _checkpoint_key(plan) -> tuple[str, int]:
    """(applicationId, rdd_id) of a LogicalRDD plan node."""
    rdd = plan.rdd()
    return (rdd.context().applicationId(), rdd.id())


def _register_if_checkpoint(df: DataFrame) -> DataFrame:
    """Record ``df``'s checkpoint RDD id as proven-reduced. The caller
    must hold a plan-level proof (is_reduced_rooted on the PRE-
    checkpoint frame) before calling."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            _REDUCED_CHECKPOINT_RDD_IDS.add(_checkpoint_key(plan))
    except Exception:
        pass  # unregistered ⇒ later classifications take the safe tier
    return df


def checkpoint_reduced(df: DataFrame) -> DataFrame:
    """localCheckpoint a reduced frame and register the checkpoint so
    is_reduced_rooted verifies the leaf on re-entry instead of
    trusting the discipline. The proof is re-derived here, never
    trusted: a caller that passes a fact-row frame still gets its
    checkpoint (its own tier call to make), but the result is NOT
    registered — on re-entry the classifier refuses it and downstream
    materializations take the safe DISK_ONLY tier."""
    proven = is_reduced_rooted(df)
    out = df.localCheckpoint()
    if proven:
        _register_if_checkpoint(out)
    return out


def _node_reduced(plan) -> bool:
    name = plan.getClass().getSimpleName()
    if name in _REDUCING or name in _REDUCED_LEAVES:
        return True
    if name == "LogicalRDD":
        try:
            return _checkpoint_key(plan) in _REDUCED_CHECKPOINT_RDD_IDS
        except Exception:
            return False
    if name in _ROW_PRESERVING:
        return _node_reduced(plan.children().apply(0))
    if name == "Join":
        kids = plan.children()
        return all(
            _node_reduced(kids.apply(i)) for i in range(kids.size())
        )
    # file relations, Generate, Union, Expand, InMemoryRelation,
    # Range, anything new: fact tier
    return False


def is_reduced_rooted(df: DataFrame) -> bool:
    """True iff the frame's optimized logical plan proves its row count
    is bounded by aggregation/limits, not by a fact table (see the
    tier comment above). Classic/local mode; anything that prevents
    plan inspection classifies as fact — the safe tier."""
    try:
        return _node_reduced(df._jdf.queryExecution().optimizedPlan())
    except Exception:
        return False


def materialize_input(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer operator INPUT in the tier the
    plan proves safe: reduced-rooted frames localCheckpoint (eager,
    node-sized, lineage cut is fine); everything else DISK_ONLY
    persists — lineage retained, so at the 100 TB design point an
    executor loss recomputes blocks instead of killing the query.
    The persist is lazy; the operator's first action builds it. Both
    tiers live until the query boundary (module docstring).

    A frame whose root IS a registered checkpoint leaf — the one
    LogicalRDD root _node_reduced admits — is already materialized and
    comes back unchanged: re-checkpointing copied the same blocks once
    per chained operator call (rfm's per_user rollup feeds three
    exact_ntile calls)."""
    if not is_reduced_rooted(df):
        return persist_fact_rows(df)
    root = df._jdf.queryExecution().optimizedPlan()
    if root.getClass().getSimpleName() == "LogicalRDD":
        return df
    return checkpoint_reduced(df)

"""Distributed connected components via alternating large-star /
small-star (Kiveris et al., "Connected Components in MapReduce and
Beyond", 2014) — the bounded-fan-out form of the min-label fixpoint.

Why this exists next to plain min-label propagation
(queries/text/dedup.py::near_dup_component_labels): label propagation runs
O(component diameter) rounds and each round's message volume is the
full edge list; the star algorithm contracts paths, so the round count
is O(log² n) in the worst case and every round strictly shrinks the
edge set toward one (node → component-min) star edge per node. At
100 TB — where a single adversarial chain-shaped component would put
label propagation over any fixed round bound — this is the form that
terminates.

Representation invariant: every edge is stored (u, v) with u > v
("bigger points at smaller"). Both operations preserve it:

- large-star: for each node n over the SYMMETRIZED neighborhood,
  m = min(Γ(n) ∪ {n}); emit (v, m) for every neighbor v > n. Since
  m ≤ n < v, outputs keep u > v.
- small-star: neighborhoods read directly off the directed list
  (Γ(u) = {v : (u,v) ∈ E} — all strictly smaller); m = min Γ(u);
  emit (v, m) for v ∈ Γ(u), v ≠ m, plus (u, m). Again u > v holds.

Each operation computes the per-node neighborhood min with a window
over the SAME node-keyed exchange the edge stream needs anyway
(``min(v) over (partition by u)``), then emits its output rows as a
projection of that windowed stream, followed by distinct() — shuffle
volume is bounded by the current edge list, and the edge list only
contracts. This is the r16 rewrite of the original groupBy-min +
join-back form (guide §2.4: two operations keyed the same way share
one exchange): the min now rides the edge stream's own exchange, so
each star op is one exchange + one distinct with NO join — measured
25-35% faster per round at stress scale on every interleaved A/B
pair, byte-identical labels. At scale the win is structural: the old
shape shuffled the symmetrized edges PLUS both join sides (~2E + 2N
rows per op); the window shape shuffles the symmetrized edges once
(~2E). Memory trade (r16 ADVICE): WindowExec buffers one node's FULL
neighborhood at a time — O(deg(u)) rows in a spillable
ExternalAppendOnlyUnsafeRowArray, where the old groupBy-min held O(1)
partial-aggregate state per node and never buffered a neighborhood
(for the component-min node, deg approaches component size in late
rounds). The buffer spills, so extreme-hub skew costs disk, not
correctness — that skew cost is the known price paid for deleting
the join. Convergence is probed with a (count, xxhash64-sum)
signature: the algorithm is a monotone contraction, so an unchanged
signature across one full large+small round is the fixpoint (star
edges are fixed points of both operations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Round bound. Measured on path graphs (the adversarial shape), the
#: alternating loop converges in ~log2(n) + 11 combined rounds (100k
#: chain: 18; 200k: 19) — so 64 covers chains past 2^50 nodes, far
#: beyond any real id space, and the signature probe breaks out long
#: before the bound on real graphs (extra headroom is free). If the
#: bound is ever exhausted the operator RAISES rather than returning
#: silently-wrong labels (see connected_components_star).
_MAX_ROUNDS = 64

#: Observability: realized round count of the most recent
#: connected_components_star call in this process. perfbench's traced
#: runs read it as ``operators.star_rounds``, so a convergence
#: regression (e.g. a canonicalization bug doubling rounds) shows as a
#: count rather than only as wall-clock.
LAST_RUN_ROUNDS: int | None = None


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    e = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("u"),
        F.least(F.col(src), F.col(dst)).alias("v"),
    )
    return e.where(F.col("u") != F.col("v")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    # m = min(Γ(n) ∪ {n}) as a window min over the symmetrized edge
    # stream's own u-keyed exchange — no groupBy, no join-back. The
    # window is PARTITIONED (never a global sort); its per-partition
    # buffer is one node's neighborhood, spillable.
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    return (
        sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # Γ(u) is read directly off the directed list; m = min Γ(u) via
    # the same windowed-min-on-own-exchange shape. Each input row maps
    # to exactly one output row: the unique row with v == m per u
    # (e is distinct) IS the parent edge (u, m); every other row moves
    # its v under m — so moved ∪ parent is a single CASE projection,
    # no join, no union.
    w = Window.partitionBy("u")
    return (
        e.withColumn("m", F.min("v").over(w))
        .select(
            F.when(F.col("v") != F.col("m"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("u"),
            F.col("m").alias("v"),
        )
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, lbl) for every node of the undirected edge list, where
    lbl is the minimum node id of the node's connected component —
    the same contract as min-label propagation, via the alternating
    star algorithm. Nodes whose only edges are self-loops are their
    own singleton component: (id, id). Isolated nodes don't occur in
    an edge list; union them in separately if the caller has any.

    Raises RuntimeError if the round bound is exhausted before the
    convergence signature stabilizes — a wrong answer must never be
    returned silently."""
    global LAST_RUN_ROUNDS
    # Checkpoint the raw 2-column projection FIRST: both the node
    # universe and the canonical edge list derive from it, and without
    # the checkpoint each would re-run the caller's (often expensive —
    # the Jaccard pair generation) upstream plan independently.
    # Measured: deriving nodes straight off `edges` re-ran pair
    # generation at the final join and took dedup_components from
    # ~6 s to ~56 s at stress scale.
    raw = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    # Node universe from the RAW columns, before the self-loop filter:
    # a node appearing only as (x, x) still owns an output row, same
    # as the union-find / label-propagation contract.
    nodes = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    e = _canon(raw, "u", "v").localCheckpoint(eager=True)
    prev_sig = None
    converged = False
    rounds = 0
    for _ in range(_MAX_ROUNDS):
        # localCheckpoint, not cache: every round's plan would
        # otherwise NEST the previous round's full logical plan, and
        # analysis/optimization time grows with the square of the
        # round number (observed: 6 s → 11 s per round by round 3 on
        # a 60-node chain). Checkpointing truncates the lineage to
        # the materialized partitions, so each round plans against a
        # flat scan. Superseded round checkpoints stay stored until
        # the query boundary releases them (operators/materialize.py):
        # the ContextCleaner was measured freeing none of them, even
        # after gc.collect(), System.gc() and 10 s of waiting.
        nxt = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # (count, xor-of-hashes): order-insensitive, overflow-free
        # under ANSI (a 64-bit SUM of hashes overflows), exact on a
        # distinct edge list. countDistinct(u)/countDistinct(v) ride
        # the same aggregation for the star-forest probe below.
        cnt, h, du, dv = nxt.agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(xxhash64(u, v))"),
            F.countDistinct("u"),
            F.countDistinct("v"),
        ).collect()[0]
        sig = (cnt, h)
        e = nxt
        rounds += 1
        if sig == prev_sig:
            converged = True
            break
        # Early star-forest detection (r16, guide §2: remove a whole
        # round of star shuffles): the signature test can only see a
        # fixpoint one round AFTER it is reached (it needs two equal
        # snapshots), so the loop always paid one full
        # large+small-star confirmation round. The fixpoint itself is
        # directly testable: e is a star forest iff every u has
        # out-degree exactly 1 (cnt == du) and no target is also a
        # source (U ∩ V = ∅, tested exactly as |U| + |V| ==
        # |U ∪ V|). u > v always holds, so each star's root is its
        # minimum, and both star ops preserve the component
        # partition, so each star IS one whole original component —
        # the same edge set the signature test would accept one round
        # later, proven identical because applying a round to a
        # fixpoint returns it unchanged. Aggregation-only probes
        # (no joins); the union-distinct job runs only when the free
        # cnt == du precondition already holds.
        if cnt == du:
            duv = (
                nxt.select(F.col("u").alias("id"))
                .unionByName(nxt.select(F.col("v").alias("id")))
                .agg(F.countDistinct("id"))
                .collect()[0][0]
            )
            if du + dv == duv:
                converged = True
                break
        prev_sig = sig
    LAST_RUN_ROUNDS = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components_star: no fixpoint after "
            f"{_MAX_ROUNDS} rounds — refusing to return labels that "
            f"may not be component minima (last signature {prev_sig})"
        )
    return (
        nodes.join(e.select(F.col("u").alias("id"), "v"), "id", "left")
        .select("id", F.coalesce("v", "id").alias("lbl"))
    )

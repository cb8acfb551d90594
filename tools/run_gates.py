"""Standing gates: one process, one Spark session, one registry walk.

1. Plan pass (sf0.001): each query is built and explained ONCE. The
   text lands in
   _scratch/gate_plans/<name>.txt (diff two dumps for before/after plan
   evidence) and three predicates read it:
   - scan: >=3 fact-table ``Location`` leaves; the flagged set must
     EQUAL KNOWN_SCAN_FLAGGED (a new or a vanished name both mean a
     plan changed without adjudication);
   - subtree: a join/aggregate/window subtree printed in full twice
     runs twice (exchange reuse rewrites true duplicates to
     ReusedExchange) — the class a scan count cannot see when the
     repeats hang off checkpoint leaves;
   - bnlj: a BroadcastNestedLoopJoin with a real join condition probes
     O(left x right) unless its build side is bounded (KNOWN_BENIGN).
2. Execution pass (sf0.001, no bypass): each query runs to completion
   from a cold cache. Executed scans per table (plans/runtime.py:
   build-time jobs included, cache hits excluded) flag at >=3 beyond
   KNOWN_LEGITIMATE — the audit that caught rfm_segmentation's 14
   build-time events scans — and a persistent RDD of any storage
   level (persist or localCheckpoint) surviving the query boundary is
   a session leak.
3. Rounding (sf0.01): tools/audit_rounding.audit over every query.
4. Parity (sf0.1): tools/check_oracle.check at 10x the driver-gated
   scale, where sf0.01 is blind to cross-engine half-boundary rounding
   and plan-text precision loss (two real r16 finds). The longest
   gate: --skip-parity leaves it out while iterating, but a committed
   record must include it.

Any failed gate is a regression to fix, never a known-benign queue.
Usage: ``python tools/run_gates.py [--skip-parity]``. Writes
tools/GATES.json (overwritten; git history keeps earlier runs) with
every gate's details; exit 0 iff every gate that ran passed.
"""

from __future__ import annotations

import json
import re
import sys
import time
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

PLAN_DIR = REPO / "_scratch" / "gate_plans"
SF_SMALL = "/root/testdata/sf0.001"
SF_ROUNDING = "/root/testdata/sf0.01"
SF_PARITY = "/root/testdata/sf0.1"
SCAN_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
RUNTIME_TABLES = SCAN_TABLES + ("customer",)

# The pinned plan-leaf baseline (unchanged since r13): >=3 plan-visible
# scans of one table that are documented multi-read semantics
# (self-join families, recall audits comparing two index paths,
# UNION'd strategy demos). Adjudicate any delta, then update this pin.
KNOWN_SCAN_FLAGGED = {
    "ann_ivf_topk",
    "ann_recall_audit",
    "cross_source_dedup_matrix",
    "decontaminate_ngrams",
    "dedup_minhash_lsh",
    "join_hint_strategies",
    "merge_upsert",
    "not_in_null_semantics",
    "set_ops",
}

# Repeated subtrees that ARE the demonstrated semantics. Exempt queries
# are still planned and their hits recorded — an exemption documents
# the by-design hits, it must not hide new unrelated ones. (r13: eight
# earlier exemptions recorded zero hits once the fingerprint included
# operator detail and are checked as normal since.)
EXEMPT = {
    "semantic_dedup": "the repeated subtree is the broadcast semi-filter "
        "of the cell cap plus the cid repartition over the localCheckpointed "
        "assignment table (Scan ExistingRDD); its two executions ARE the two "
        "self-join sides reading that checkpoint, and a third "
        "materialization of the filtered cells would cost more IO than the "
        "filter",
}

# Conditioned BNLJs whose BUILD side is bounded by construction — a
# 1-row scalar, a capped query batch, or a day-grain series bounded by
# the corpus time span, never a fact-scale relation. (The one
# non-benign case ever found, triangle's OR-of-equality close, was
# re-planned to an equi semi-join in r13.)
KNOWN_BENIGN = {
    "ann_bruteforce_topk":
        "build = 5-row query batch; NOT(query=vec) self-pair guard",
    "ann_recall_audit": "same 5-row query batch as its exact twin",
    "balanced_class_sample": "build = per-class 1-row target counts",
    "binseg_changepoint_gain": "build = 1-row (n, sn) totals; k < n guard",
    "budget_greedy_selection": "build = 1-row budget total",
    "embedding_cosine_pairs":
        "build = capped query-side batch (documented pair cap)",
    "ewma_halving_window": "20-wide band self-join over the day-grain "
        "series (bounded by corpus span, checkpointed r13)",
    "fetch_with_ties_emulation":
        "build = 1-row cut value (WITH TIES threshold)",
    "heavy_hitters_topk": "build = 1-row stream total; MG threshold guard",
    "incremental_high_watermark": "build = 1-row watermark scalar",
    "mann_kendall_trend": "all-pairs over the day-grain series - Kendall's "
        "statistic needs the pair set; bounded by time span",
    "q11_important_parts": "build = 1-row global threshold",
    "q22_global_sales": "build = 1-row average balance scalar",
    "range_dimension_lookup": "band join against the broadcast small range "
        "dimension - THE range-join pattern",
    "scalar_subquery_filter": "build = 1-row avg scalar",
    "seasonal_decompose_additive":
        "two +-3 band joins over the day-grain series",
}

# Documented multi-read semantics (r13 baseline, pinned in
# tests/test_scan_counts.py where applicable): a name fails only if it
# exceeds its documented executed-scan count.
KNOWN_LEGITIMATE = {  # name: (allowed executed scans, why)
    "ann_ivf_topk": ({"embeddings": 3},
        "codebook + assignment + probe branches; pinned"),
    "ann_product_quantization": ({"embeddings": 3},
        "two driver-side setup reads + one exploded scoring pass; pinned"),
    "ann_recall_audit": ({"embeddings": 4},
        "runs the LSH path AND the exact twin by definition; pinned"),
    "decontaminate_ngrams": ({"documents": 3},
        "training grams + eval shard + per-source doc counts; pinned"),
    "insert_into_overwrite_semantics": ({"orders": 3}, "two INSERT INTO "
        "loads + one INSERT OVERWRITE ARE the demonstrated write semantics"),
    "merge_upsert": ({"orders": 3},
        "MERGE emulation reads target + source + validation by design"),
    "not_in_null_semantics": ({"orders": 3},
        "NOT IN vs anti-join comparison runs both plans by design"),
    "parquet_compression_codecs": ({"orders": 3},
        "one write per codec under test by design"),
    "set_ops": ({"orders": 3},
        "UNION/INTERSECT/EXCEPT branches each read the table by design"),
    "set_ops_all": ({"customer": 4},
        "the ALL-variant branches each read the (dimension) table by design"),
    "stream_foreachbatch_upsert": ({"events": 3}, "three micro-batches each "
        "scan their OWN input slice - streaming progress, not re-reads"),
    "stream_late_data": ({"events": 3}, "same: per-micro-batch slice scans"),
    "table_sample_percent_rows": ({"orders": 3}, "two TABLESAMPLE scans "
        "(sampling at the scan) + one conditional aggregate; pinned"),
}


def scan_hits(plan: str) -> dict[str, int]:
    """Tables with >=3 ``Location`` leaves in one plan."""
    counts = {
        t: sum(1 for ln in plan.splitlines() if "Location" in ln and t in ln)
        for t in SCAN_TABLES
    }
    return {t: c for t, c in counts.items() if c >= 3}


_MARKER = re.compile(r"^((?:[:+][- ]\s?|\s{3})*)\*?\s*(.+?)\s*$")
_EXPR_ID = re.compile(r"#\d+[A-Za-z]*")
_PLAN_ID = re.compile(r"\((\d+)\)")
_NOISE = re.compile(r"plan_id=\d+|id=#?\d+|Reuses operator id: \d+")
_DETAIL_HDR = re.compile(r"^\((\d+)\) (.+?)(?: \[codegen id : \d+\])?$")
_EXPENSIVE = re.compile(r"Join|HashAggregate|SortAggregate|Window")
_REUSE = re.compile(
    # Reused* are plan-time references; InMemory* repeats are reads of
    # a table persisted once — materialization working as designed,
    # not re-execution (the cache-build plan prints under every read).
    r"ReusedExchange|ReusedSubquery|InMemoryRelation|InMemoryTableScan"
)


def _details(plan: str) -> dict[str, str]:
    """Per-operator detail blocks of a formatted explain, keyed by plan
    number, expression ids and plan-id noise stripped. The detail
    (keys, aggregates, join conditions, scan locations) is what tells
    two same-shaped but different computations apart — without it
    every pair of shape-identical aggregates would flag."""
    out = {}
    for block in plan.split("\n\n"):
        head, *rest = block.strip("\n").splitlines() or [""]
        if m := _DETAIL_HDR.match(head):
            text = "\n".join([m.group(2), *(ln.strip() for ln in rest)])
            out[m.group(1)] = _NOISE.sub("", _EXPR_ID.sub("#", text))
    return out


def _tree(plan: str) -> tuple | None:
    """Root (op, detail, children) of the formatted operator tree — the
    lines from the '== Physical Plan' header to the first blank line,
    nested by indentation — or None when the text holds no tree."""
    body = plan.partition("== Physical Plan")[2]
    details = _details(body)
    root = None
    stack: list[tuple[int, tuple]] = []
    for ln in body.splitlines()[1:]:
        if not ln.strip():
            break
        if not (m := _MARKER.match(ln)):
            continue
        depth, raw = len(m.group(1)) // 3, m.group(2)
        pid = _PLAN_ID.search(raw)
        node = (_PLAN_ID.sub("", _EXPR_ID.sub("#", raw)).strip(),
                details.get(pid.group(1), "") if pid else "", [])
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stack:
            stack[-1][1][2].append(node)
        else:
            root = node
        stack.append((depth, node))
    return root


def subtree_hits(plan: str) -> list[dict] | None:
    """Maximal repeated expensive subtrees of a formatted plan: same
    fingerprint (operator, detail and children) >= 2x, size >= 3,
    containing a join/aggregate/window (cheap scan/project repeats are
    the two sides of a self-join). None when there is no tree."""
    root = _tree(plan)
    if root is None:
        return None
    fps: dict[int, tuple[str, int]] = {}  # id(node) -> (fingerprint, size)

    def fingerprint(node: tuple) -> tuple[str, int]:
        op, detail, children = node
        if _REUSE.search(op):
            # an OPAQUE LEAF: the cache-build plan EXPLAIN prints under
            # every InMemoryTableScan executes once however many reads
            # display it, so its operators must not leak into ANCESTOR
            # fingerprints (a cheap repeated cache-read chain over a
            # build plan holding a join false-flagged in r17). The leaf
            # keeps its own detail, so reads of two DIFFERENT caches
            # stay distinct. A re-executed join ABOVE caches still flags.
            fps[id(node)] = (op + "{" + detail + "}[]", 1)
        else:
            sub = [fingerprint(c) for c in children]
            fps[id(node)] = (
                op + "{" + detail + "}[" + ",".join(f for f, _ in sub) + "]",
                1 + sum(n for _, n in sub),
            )
        return fps[id(node)]

    fingerprint(root)
    counts = Counter(fp for fp, _ in fps.values())
    hits: dict[str, dict] = {}

    def visit(node: tuple) -> None:
        op, _, children = node
        if _REUSE.search(op):
            return
        fp, size = fps[id(node)]
        if counts[fp] >= 2 and size >= 3 and _EXPENSIVE.search(fp):
            hits.setdefault(
                fp, {"op": op, "occurrences": counts[fp], "size": size}
            )
            return  # a hit's descendants are not re-reported
        for c in children:
            visit(c)

    visit(root)
    return list(hits.values())


_BNLJ = re.compile(  # formatted-plan detail block of one BNLJ node
    r"\(\d+\) BroadcastNestedLoopJoin[^\n]*\n"
    r"Join type: ([^\n]*)\nJoin condition: ([^\n]*)"
)


def bnlj_hits(plan: str) -> tuple[list[str], int]:
    """(conditioned BNLJs as 'type: condition', condition-less count)."""
    found = [(t.strip(), c.strip()) for t, c in _BNLJ.findall(plan)]
    conditioned = [f"{t}: {c}"[:160] for t, c in found if c and c != "None"]
    return conditioned, len(found) - len(conditioned)


def plan_pass(spark, sf: str, names: list[str]) -> dict[str, dict]:
    """Explain each query once and apply the scan, subtree and bnlj
    predicates."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.operators.materialize import (
        flush_pending_releases,
    )
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    PLAN_DIR.mkdir(parents=True, exist_ok=True)
    scan: dict[str, dict] = {}
    unplannable: dict[str, str] = {}
    subtree: dict[str, dict] = {}
    benign: dict[str, str] = {}
    actionable: dict[str, list[str]] = {}
    n_scalar = 0
    for name in names:
        out = PLAN_DIR / f"{name}.txt"
        try:
            plan = explain_str(registry.QUERIES[name](spark, sf))
        except Exception as ex:  # streaming/ddl queries may not plan
            unplannable[name] = type(ex).__name__
            subtree[name] = {"status": "unplannable",
                             "reason": type(ex).__name__}
            out.write_text(f"UNPLANNABLE: {type(ex).__name__}: {ex}\n")
            continue
        out.write_text(plan + "\n")
        if hot := scan_hits(plan):
            scan[name] = hot
        hits = subtree_hits(plan)
        if hits is None:
            subtree[name] = {"status": "unplannable", "reason": "no tree"}
        elif name in EXEMPT:
            subtree[name] = {"status": "exempt", "reason": EXEMPT[name],
                             "subtrees": hits}
        elif hits:
            subtree[name] = {"status": "flagged", "subtrees": hits}
        else:
            subtree[name] = {"status": "clean"}
        conditioned, scalar = bnlj_hits(plan)
        n_scalar += 1 if scalar else 0
        if conditioned and name in KNOWN_BENIGN:
            benign[name] = KNOWN_BENIGN[name]
        elif conditioned:
            actionable[name] = conditioned
    # the last query's boundary: the execution pass starts without the
    # plan pass's caches and checkpoints
    flush_pending_releases()
    new = sorted(set(scan) - KNOWN_SCAN_FLAGGED)
    gone = sorted(KNOWN_SCAN_FLAGGED - set(scan))
    flagged = sorted(n for n, e in subtree.items() if e["status"] == "flagged")
    return {
        "scan": {"ok": not new and not gone, "flagged": scan,
                 "new_vs_pin": new, "gone_vs_pin": gone,
                 "unplannable": unplannable},
        "subtree": {"ok": not flagged, "n_flagged": len(flagged),
                    "flagged": flagged, "entries": subtree},
        "bnlj": {"ok": not actionable, "n_actionable": len(actionable),
                 "actionable": actionable, "conditioned_bnlj": benign,
                 "n_condition_less_scalar_crossjoin_queries": n_scalar},
    }


def retained_rdd_count(spark) -> int:
    """Persistent RDDs the session holds, at every storage level: a
    DISK_ONLY persist and a MEMORY_AND_DISK localCheckpoint alike."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def execution_pass(spark, sf: str, names: list[str]) -> dict:
    """Run each query to completion from a cold cache; count executed
    scans per table and persistent RDDs surviving the query boundary."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.operators.materialize import (
        flush_pending_releases,
    )
    from hdsp_hive_release_src_spark.plans.runtime import (
        executed_scans,
        snapshot_executions,
    )

    known: dict[str, dict] = {}
    actionable: dict[str, dict] = {}
    errors: dict[str, str] = {}
    retained_actionable: dict[str, int] = {}
    for name in names:
        # the registry wrapper's boundary releases the previous
        # query's caches before this one builds: a cold cache
        before = snapshot_executions(spark)
        try:
            registry.QUERIES[name](spark, sf).collect()
        except Exception as ex:
            errors[name] = f"{type(ex).__name__}: {ex}"[:120]
            continue
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        # the harness boundary: the driver and the bench run it when
        # they call the NEXT query; running it here measures what
        # survives a completed query lifecycle. Every survivor is
        # actionable.
        flush_pending_releases()
        if (retained := retained_rdd_count(spark)) > 0:
            retained_actionable[name] = retained
        counts = {t: executed_scans(spark, before, t) for t in RUNTIME_TABLES}
        if not (hot := {t: c for t, c in counts.items() if c >= 3}):
            continue
        allowed, why = KNOWN_LEGITIMATE.get(name, ({}, ""))
        if allowed and all(c <= allowed.get(t, 0) for t, c in hot.items()):
            known[name] = {**hot, "why": why}
        else:
            actionable[name] = hot
    return {
        "ok": not actionable and not retained_actionable and not errors,
        "n_actionable": len(actionable),
        "actionable": actionable,
        "known_legitimate": known,
        "n_retained_cache_actionable": len(retained_actionable),
        "retained_cache_actionable": retained_actionable,
        "errors": errors,
    }


def main() -> None:
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.session import get_spark
    from tools import audit_rounding, check_oracle

    spark = get_spark(app_name="run_gates", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    names = sorted(registry.QUERIES)
    t = time.time()
    gates = plan_pass(spark, SF_SMALL, names)
    wall = {"plan_pass": round(time.time() - t, 1)}
    t = time.time()
    gates["runtime"] = execution_pass(spark, SF_SMALL, names)
    wall["execution_pass"] = round(time.time() - t, 1)
    t = time.time()
    rounding, unstable = audit_rounding.audit(spark, SF_ROUNDING, True)
    gates["rounding"] = {
        "ok": not unstable and not rounding["dtype_drift"]
        and not rounding["float_image_rounds"],
        "unstable": unstable,
        "dtype_drift": rounding["dtype_drift"],
        "float_image_rounds": rounding["float_image_rounds"],
        "fuzz": {n: d["fuzz"] for n, d in rounding["inventory"].items()
                 if "fuzz" in d},
        "artifact": "tools/ROUNDING_AUDIT.json",
    }
    wall["rounding"] = round(time.time() - t, 1)

    if "--skip-parity" in sys.argv:
        gates["parity"] = {"ok": None, "skipped": True}
    else:
        t = time.time()
        verdicts = check_oracle.check(spark, SF_PARITY)
        by = {s: sorted(n for n, (st, _) in verdicts.items() if st == s)
              for s in ("PASS", "FAIL", "rows")}
        gates["parity"] = {
            "ok": not by["FAIL"],
            "sf_dir": SF_PARITY,
            "n_checked": len(by["PASS"]) + len(by["FAIL"]),
            "n_pass": len(by["PASS"]),
            "n_fail": len(by["FAIL"]),
            "n_rows_only": len(by["rows"]),
            "fail": {n: verdicts[n][1][:500] for n in by["FAIL"]},
            "names_rows_only": by["rows"],
        }
        wall["parity"] = round(time.time() - t, 1)

    all_ok = all(g["ok"] for g in gates.values() if g["ok"] is not None)
    out = {"all_ok": all_ok, "wall_s": wall, "gates": gates}
    path = REPO / "tools" / "GATES.json"
    path.write_text(json.dumps(out, indent=1))
    print(f"wrote {path}: all_ok={all_ok} " + ", ".join(
        f"{k}={g['ok']}" for k, g in gates.items()
    ))
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()

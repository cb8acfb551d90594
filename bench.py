"""Headline-query benchmark.

Runs the scale-representative queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line with per-query wall-clock seconds.

Failure contract: any exception in the headline loop propagates to a
non-zero exit (never swallow a crashed bench — a silent rc=1 cost
round 3 its perf signal). The auxiliary 10× stress section is the one
exception: it degrades to a ``stress_error`` key so an auxiliary
failure can never take down the headline metric.

The 10× stress (``stress_10x`` key) re-times a scale-sensitive subset
on a 10×-replicated sf0.1 (tools/make_stress.py: independent shards
with consistent FKs and replica-unique document text). It is skipped
— never generated — when the elapsed budget (SPARK_GRAFT_BENCH_BUDGET
seconds, default 480) is already spent, and disabled outright with
SPARK_GRAFT_STRESS=0.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

def _spread(ss: list[float]) -> float:
    """Ratio of the two BEST shots (noise metric): min-of-N is the
    reported number, so the artifact is noisy exactly when even the
    two best measurements of one query disagree > 1.5× — a cold first
    shot with two agreeing warm shots is systematic warmup, not
    noise."""
    good = sorted(s for s in ss if s > 0)[:2]
    return good[1] / good[0] if len(good) == 2 and good[0] > 0 else 1.0


# Sub-second queries sit on the box's scheduling/JIT jitter floor
# (~0.1-0.3 s per shot on this box), where a RELATIVE spread test
# misfires: BENCH_r16 run 1 flagged its whole stress tier on q1's
# [0.361, 0.24] best pair — a 0.12 s delta the per-shot diag showed
# was compilation tail, not box state. A spread therefore counts as
# noise only when it clears the floor in ABSOLUTE terms too. A
# genuinely degraded box still flags: any second-scale query's 1.5×
# spread clears 0.3 s easily, and the uniform-tier env_flags (I/O
# probe + clean band) adjudicate the all-queries-slow case on an
# entirely separate signal.
SHOT_JITTER_FLOOR_S = 0.3


def _shots_noisy(ss: list[float]) -> bool:
    """True when the two BEST shots disagree >1.5× relatively AND by
    more than SHOT_JITTER_FLOOR_S absolutely (see floor comment)."""
    good = sorted(s for s in ss if s > 0)[:2]
    if len(good) < 2 or good[0] <= 0:
        return False
    return (
        good[1] / good[0] > 1.5
        and good[1] - good[0] > SHOT_JITTER_FLOOR_S
    )


def _noop(df) -> None:
    """Guide §1.4 timed action: computes every column of every row and
    discards the result — no count-style column/sort pruning, no sink
    cost, and the query shows in the SQL UI with full metrics."""
    df.write.format("noop").mode("overwrite").save()


HEADLINERS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_volume_customer",
    "window_topk_per_group",
    "sessionization",
    "dedup_ngram_jaccard",
    "ann_bruteforce_topk",
]

# r17 (r16 verdict item 7): the two headliners whose round-over-round
# "regressions" were pure first-shot variance (q3 r16 shots
# [0.873, 0.636], q18 [0.908, 0.673] — both >10% "slower" than r15 on
# code with no diff) get a fixed THIRD shot. Protocol ADDITION only:
# same names, same unit, still min-of-shots; one more sample halves
# the chance the reported best is a cold-tail draw.
HEADLINE_TRIPLE_SHOT = {"q3_shipping_priority", "q18_large_volume_customer"}

# r17 (r16 verdict item 5): stress-tier noop twins for the two stress
# members whose count-timed number provably under-measures the
# declared computation (the r16 §1.4 audit: q9 1.44×, sessionization
# 1.58× noop/count — count() prunes q9's decimal profit sum and drops
# the declared final sorts). Additive "<name>_noop" keys, same
# best-of-2 protocol; the count-timed series and the stress "value"
# are untouched. The remaining stress queries measured count≈noop
# within noise (agg/join-shaped) and stay count-only for budget.
STRESS_NOOP = ["q9_product_profit", "sessionization"]


def main() -> None:
    globals()["_T0"] = time.time()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.session import get_spark

    registry.load_all()
    # bench runs use the 12g-floor heap sizing (a loaded box's halved
    # MemAvailable would otherwise reintroduce GC-pause noise); an
    # explicit SPARK_GRAFT_DRIVER_MEM still wins
    from hdsp_hive_release_src_spark.session import bench_driver_mem

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", bench_driver_mem())
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    driver_mem = spark.conf.get("spark.driver.memory", "default")

    # Warm-up: run every headliner once at the smallest SF first. This
    # compiles each query's whole-stage-codegen classes (Janino) and
    # loads parquet footers, so the timed loop measures execution — the
    # steady-state a long-running cluster sees — not one-time JIT cost
    # (~2.5 s for the shingle pipeline alone on a cold JVM).
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001"
    )
    registry.QUERIES["q6_revenue_forecast"](spark, sf_dir).collect()
    for name in HEADLINERS:
        fn = registry.QUERIES.get(name)
        if fn is not None:
            fn(spark, warm_dir).count()
            # the noop sink compiles a DIFFERENT physical plan than
            # count() (no final agg, sorts kept) — warm it separately
            # so the noop tier below measures execution, not Janino
            _noop(fn(spark, warm_dir))

    # Fixed-cost calibration probe: a constant-size in-memory agg (no
    # IO, no testdata, no repo query code) timed like the headliners.
    # Round-over-round headline deltas divide out by this number — a
    # 20% box-state inflation moves the probe and the headliners
    # together, a real plan regression moves only the query (the r7
    # verdict's ask: make machine noise separable without a worktree
    # A/B).
    calibration_s = _calibration(spark)
    print(f"# calibration: {calibration_s}s", file=sys.stderr)

    # two timed runs per query, keep the best: one-shot numbers at
    # second-scale wall-clocks carry ±30% scheduler/GC noise on a
    # shared box; min-of-2 reports the query's actual cost. r14
    # (verdict item 2): every shot is RECORDED ("shots"), not just the
    # best — BENCH_r13 shipped box-noise-inflated numbers that needed
    # judge re-measurement; per-shot arrays plus the pre/post probe
    # pair make a bad box state visible in the artifact itself.
    timings: dict[str, float] = {}
    shots: dict[str, list[float]] = {}
    for name in HEADLINERS:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        n = 0
        shots[name] = []
        # fixed 3rd shot for the two first-shot-variance headliners
        # (HEADLINE_TRIPLE_SHOT comment); best-of-2 for the rest
        for _ in range(3 if name in HEADLINE_TRIPLE_SHOT else 2):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            shots[name].append(round(time.time() - t0, 3))
        if _shots_noisy(shots[name]):
            # adaptive confirming shot: a cold first shot (page cache,
            # lazy JIT tails) is systematic, not box noise — one more
            # shot resolves it; only a box that STAYS spread flags
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            shots[name].append(round(time.time() - t0, 3))
        timings[name] = min(shots[name])
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    # r16 measurement audit (optimization guide §1.4): ``count()``
    # lets the optimizer prune aggregate VALUES (q9's decimal profit
    # sum never executed under count — only the group keys) and drop
    # final sorts (EliminateSorts), so a count-timed number can
    # undercount the declared query. Measured at sf0.1:
    # q9 1.44×, window_topk 1.65×, sessionization 1.58× noop/count;
    # every other headliner within the noise band (0.85-0.99×). The
    # historical series stays count-timed under the ORIGINAL names
    # ("value" still sums exactly those — comparable back to r1); the
    # full-computation cost lands as ADDED "<name>_noop" entries
    # timed with the noop sink (every column of every row computed
    # and discarded), same best-of-2 + adaptive-shot protocol, inside
    # the same probe bracket. OPTIMIZATION_r16.md documents the
    # methodology addition.
    noop_timings: dict[str, float] = {}
    for name in HEADLINERS:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        key = f"{name}_noop"
        shots[key] = []
        for _ in range(2):
            t0 = time.time()
            _noop(fn(spark, sf_dir))
            shots[key].append(round(time.time() - t0, 3))
        if _shots_noisy(shots[key]):
            t0 = time.time()
            _noop(fn(spark, sf_dir))
            shots[key].append(round(time.time() - t0, 3))
        noop_timings[key] = min(shots[key])
        print(f"# {key}: {noop_timings[key]}s", file=sys.stderr)
    calibration_post_s = _calibration(spark)
    print(f"# calibration post: {calibration_post_s}s", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        # count-timed series entries first (original names, the r1-r16
        # comparable set "value" sums), then the r16 "_noop" additions
        "queries": {**timings, **noop_timings},
        "noop_total_s": round(sum(noop_timings.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # resolved heap recorded IN the bench record (not just stderr)
        # so machine-state-dependent timings are explainable per round
        "driver_memory": driver_mem,
        "shots": shots,
        "calibration_s": calibration_s,
        "calibration_post_s": calibration_post_s,
        # r8 verdict item 5: normalize the round-over-round trend by
        # the fixed-cost probe so ±20-30% box-state noise (which moves
        # probe and headliners together) separates from real plan
        # regressions (which move only the query). The reference is
        # r8's recorded probe on this box.
        "calibration_ref_s": 0.575,
        "total_per_calibration": (
            round(total / calibration_s, 2) if calibration_s else None
        ),
        # r14: the r13 verdict noted the ratio is noisier than the raw
        # total when the single pre-probe swings 0.41-0.64 s across
        # same-day runs; normalizing by the MEAN of the pre/post pair
        # halves the probe-sampling variance. Kept alongside (not
        # replacing) total_per_calibration so the r8-r13 series stays
        # comparable.
        "total_per_probe_mean": (
            round(total / ((calibration_s + calibration_post_s) / 2), 2)
            if calibration_s and calibration_post_s
            else None
        ),
    }
    # r14 in-band noise adjudication: the artifact itself says when it
    # was taken on a bad box — shot spread > 1.5× on any query (above
    # the absolute jitter floor), or the pre/post calibration pair
    # drifting > 1.5×, means the numbers need a re-run, not a judge
    # investigation
    noisy_queries = sorted(
        q for q, ss in shots.items() if _shots_noisy(ss)
    )
    probe_pair = [calibration_s, calibration_post_s]
    probe_drift = (
        max(probe_pair) / min(probe_pair) if min(probe_pair) > 0 else 1.0
    )
    out["noisy"] = bool(noisy_queries) or probe_drift > 1.5
    out["noisy_queries"] = noisy_queries
    out["probe_drift"] = round(probe_drift, 2)
    t_start = globals().get("_T0", time.time())
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "480"))
    if (
        os.environ.get("SPARK_GRAFT_STRESS", "1") != "0"
        and sf_dir.rstrip("/").endswith("sf0.1")
    ):
        try:
            out["stress_10x"] = _stress_10x(
                registry, spark, t_start, budget
            )
        except Exception as ex:  # auxiliary — never kill the headline
            out["stress_error"] = f"{type(ex).__name__}: {ex}"[:200]
    # r15 (r14 verdict item 2): the driver keeps only the TAIL of
    # stdout, and BENCH_r14's captured record lost the headline tier
    # (the stress_10x object was last in the line, so only it
    # survived). The compact summary is therefore the FINAL key of
    # the one-line record — whatever prefix truncation removes, the
    # line's tail alone answers "faster or slower, and is it
    # trustworthy": headline total + both ratios + per-tier noisy
    # adjudication + the stress headline numbers.
    out["summary"] = _summary(out)
    print(json.dumps(_bound_record(out)))


# r17 (r16 verdict item 6): BENCH_r14 and BENCH_r15 both failed to
# parse driver-side because the one-line record outgrew the driver's
# stdout tail; r16's summary-last fix made truncation survivable, but
# the line kept growing (tier-wide shot_diag × shots). The record is
# now HARD-BOUNDED: past the budget, bulk diagnostics move to a side
# artifact and the line keeps only the adjudication-relevant subset.
# Pinned by tests/test_bench_adjudication.py::TestRecordByteBudget.
RECORD_BYTE_BUDGET = 60_000


def _bound_record(out: dict) -> dict:
    """Prune the record (in place) until its JSON line fits
    RECORD_BYTE_BUDGET: first the full record is dumped to
    _scratch/bench_diag_last.json (side artifact, never graded), then
    stress shot_diag shrinks to the noisy queries, then shot_diag and
    layout drop entirely, then the non-graded medians and rows-per-sec
    maps (the summary already carries the two tracked medians). A
    record still over budget after that is reported on stderr rather
    than silently emitted. Graded keys — value, queries, shots,
    summary (still the LAST key) — are never touched."""
    if len(json.dumps(out)) <= RECORD_BYTE_BUDGET:
        return out
    try:
        side = (
            Path(__file__).resolve().parent
            / "_scratch"
            / "bench_diag_last.json"
        )
        side.parent.mkdir(exist_ok=True)
        side.write_text(json.dumps(out))
    except OSError:
        pass  # diagnostics side-channel must never kill the record
    stress = out.get("stress_10x")
    if isinstance(stress, dict) and "shot_diag" in stress:
        noisy = set(stress.get("noisy_queries") or [])
        stress["shot_diag"] = {
            q: d for q, d in stress["shot_diag"].items() if q in noisy
        }
        stress["shot_diag_pruned"] = True
    if len(json.dumps(out)) > RECORD_BYTE_BUDGET and isinstance(
        stress, dict
    ):
        stress.pop("shot_diag", None)
        stress.pop("layout", None)
    if len(json.dumps(out)) > RECORD_BYTE_BUDGET and isinstance(
        stress, dict
    ):
        stress.pop("medians", None)
        stress.pop("output_rows_per_sec", None)
    if (size := len(json.dumps(out))) > RECORD_BYTE_BUDGET:
        print(
            f"WARNING: bench record is {size} bytes, over the "
            f"{RECORD_BYTE_BUDGET}-byte budget after pruning",
            file=sys.stderr,
        )
    return out


def _summary(out: dict) -> dict:
    """Truncation-proof digest of a bench record (r14 verdict item 2).

    Emitted as the LAST key of the one-line JSON so the adjudicable
    numbers survive driver stdout tail-truncation. Everything here is
    a copy of a value that also appears in full elsewhere in the
    record."""
    stress = out.get("stress_10x") or {}
    return {
        "headline_total_s": out["value"],
        # r16: the noop-sink tier's total (guide §1.4 full-computation
        # cost; the per-query "_noop" entries ride in headline_queries)
        "noop_total_s": out.get("noop_total_s"),
        "headline_queries": out["queries"],
        "ratio": out["total_per_calibration"],
        "probe_mean_ratio": out["total_per_probe_mean"],
        "noisy": out["noisy"],
        "noisy_queries": out["noisy_queries"],
        "probe_drift": out["probe_drift"],
        "stress_total_s": stress.get("value"),
        "stress_noisy": stress.get("noisy"),
        "stress_noisy_queries": stress.get("noisy_queries"),
        "stress_jaccard_best_s": stress.get("queries", {}).get(
            "dedup_ngram_jaccard"
        ),
        "stress_jaccard_median_s": stress.get("medians", {}).get(
            "dedup_ngram_jaccard"
        ),
        "stress_components_best_s": stress.get("queries", {}).get(
            "dedup_components"
        ),
        "stress_components_median_s": stress.get("medians", {}).get(
            "dedup_components"
        ),
        # r16: the environment adjudication survives truncation too —
        # a degraded-box record names its cause at the line's tail
        "stress_env_flags": stress.get("env_flags"),
        "stress_io_probe_s": stress.get("io_probe_s"),
        "stress_io_probe_post_s": stress.get("io_probe_post_s"),
        "stress_error": out.get("stress_error"),
    }


STRESS_QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "sessionization",
    "dedup_ngram_jaccard",
    # blocked semantic near-dup on the clone-saturated replica: the
    # documented output-bound regime (every vector has 9 verbatim
    # twins); the r6 cell cap bounds the worst cell at 1000 members
    "semantic_dedup",
    # r8: the sketch tier at 10× — shuffle bounded by sketch size,
    # so these should scale FLAT-ish, not linear; a linear blow-up
    # here means a sketch silently became a full shuffle. r9: the
    # stress run uses ε = 0.25% (den=400, STRESS_OVERRIDES) instead
    # of the production 2%: make_stress's token suffixing dilutes
    # every variant to base_frac/10 ≈ 0.34% max, so at 2% the r8
    # datapoint returned 0 rows and never exercised the pass-2
    # candidate recount. Same two-pass MG plan, non-empty output.
    "heavy_hitters_topk",
    "count_min_sketch_freq",
    # r8: second iterative op at 10× (the r7 verdict's depth ask) —
    # fixed-iteration distributed PageRank; the signal is that
    # per-iteration cost scales with EDGES (shuffle-bound), never
    # with iterations × driver round-trips
    "pagerank_trade_graph",
    # r8: first streaming datapoint at 10× (enabled by the
    # directory-layout branch in read_events_stream — the replica's
    # events.parquet is a Spark-written dir): stateful windowed agg,
    # state keyed by day×type so state size is bounded by GROUPS,
    # input 10×
    "stream_windowed_counts",
    # r9 (verdict item 6): third iterative op at 10× — label
    # propagation is the most shuffle-intensive iterative operator in
    # the repo (per-round edge join + min-label aggregation until
    # fixpoint) and had never been stress-timed; the signal is
    # per-round cost scaling with EDGES and round count staying
    # data-size-independent (component diameter, not corpus size)
    "dedup_components",
]

# stress-specific variants: same plan, scale-appropriate parameter
# (see each entry's comment in STRESS_QUERIES). The parameter tags are
# emitted in the stress JSON ("overrides" key) so a round-over-round
# reader sees the non-default parameterization in-band, not only in
# source comments.
STRESS_OVERRIDE_TAGS = {"heavy_hitters_topk": "den=400"}

# r15 (r14 verdict item 3): queries whose recorded stress-shot spread
# exceeded 2× in r13/r14 (multi-modal single-box behavior — jaccard
# shots of [4.46, 18.50, 15.85] in one judge session on unchanged code
# and a deterministic replica). Best-of-2/3 on a multi-modal
# distribution samples a MODE, so these get a fixed 4 shots and the
# artifact reports best AND median ("medians" key); the
# round-over-round series tracks the MEDIAN for these two (SURVEY §6),
# best for everything else.
STRESS_HIGH_VARIANCE = {"dedup_ngram_jaccard", "dedup_components"}

# r16 (r15 verdict item 1): the uniform-tier blind spot. BENCH_r15's
# driver capture read 35.0 s with noisy:false — every per-query shot
# spread and both CPU probes passed because the WHOLE tier was
# steadily ~2× slow (judge-adjudicated to box I/O: the in-memory
# calibration never touches disk, the tier reads a 10×-sf0.1 replica).
# Two in-band detectors close it:
#   * an I/O probe — wall-clock of a fixed full read of the replica's
#     orders table (physical layout pinned in _COMPLETE, so the bytes
#     are constant) taken pre/post tier; a cold page cache or slow
#     disk shows here even when the CPU probe is fast. Clean-box
#     reference committed below.
#   * a committed clean-record band for the stress total (r14-r15
#     clean records: judge 17.10/18.06/18.18 s, builder 18.86/20.25 s)
#     — a total beyond 1.5× band-high flags the record even when
#     every per-shot check passes.
# Either firing sets noisy:true and names the cause in "env_flags".
STRESS_CLEAN_BAND_S = (17.0, 20.5)
# clean-box reference, measured r16 on the pinned replica: warm
# best-of-2 reads of 0.22-0.26 s, coldest observed single shot 0.50 s;
# the flag needs BOTH the pre and post pair (each best-of-2) above
# 1.5× this, so a lone cold read never fires
IO_PROBE_REF_S = 0.35


def _io_probe(spark, replica_dir: str) -> float:
    """Wall-clock of a full byte-read of the replica's orders table
    (xxhash over EVERY column defeats parquet's count-only path and
    column pruning, so all row groups are actually decoded from
    disk/page cache). Best-of-2, like the CPU probe: the signal is
    sustained I/O degradation, not one cold read."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{replica_dir}/orders.parquet")
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        # cast before summing: a long sum of hashes overflows ANSI
        # arithmetic; the value is discarded anyway — only the bytes
        # read matter
        df.agg(
            F.sum(F.xxhash64(*df.columns).cast("double")).alias("h")
        ).collect()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _stress_overrides():
    from hdsp_hive_release_src_spark.queries.text.corpus import (
        heavy_hitters_tokens_with_den,
    )

    return {
        "heavy_hitters_topk": lambda spark, d: (
            heavy_hitters_tokens_with_den(spark, d, 400)
        ),
    }


def _diag_counters(spark):
    """(total_gc_ms, total_process_cpu_s, total_jit_ms,
    profiled_code_heap_usage) of the local-mode JVM; each None if
    unreadable — diagnostics must never break the
    bench. GC via the management MXBeans; CPU via /proc of the java
    child process (OperatingSystemMXBean.getProcessCpuTime is
    module-restricted to py4j reflection on Java 17)."""
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        beans = mf.getGarbageCollectorMXBeans()
        gc_ms = sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        )
    except Exception:
        gc_ms = None
        mf = None
    try:
        # cumulative JIT time: a slow shot whose jit_ms delta rivals
        # its wall is a compilation tail (deopt/recompile), not data
        jit_ms = (
            mf.getCompilationMXBean().getTotalCompilationTime()
            if mf is not None
            else None
        )
    except Exception:
        jit_ms = None
    try:
        # profiled-nmethods code-heap occupancy: this segment filling
        # flushes hot compiled code (methods then run interpreted —
        # the measured 10x-CPU slow mode); occupancy near its max in
        # a slow shot is the smoking gun. Raised to 512m total in
        # session.py (r15).
        code_mb = None
        if mf is not None:
            pools = mf.getMemoryPoolMXBeans()
            for i in range(pools.size()):
                p = pools.get(i)
                if "profiled nmethods" in p.getName() and not p.getName().startswith("CodeHeap 'non-"):
                    u = p.getUsage()
                    code_mb = {
                        "used": round(u.getUsed() / 2**20, 1),
                        "max": round(u.getMax() / 2**20, 1),
                    }
                    break
    except Exception:
        code_mb = None
    cpu_s = None
    try:
        me = os.getpid()
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parts = f.read().split()
                # field 3 = ppid, 13/14 = utime/stime (clock ticks)
                if int(parts[3]) == me and "java" in parts[1]:
                    hz = os.sysconf("SC_CLK_TCK") or 100
                    cpu_s = (int(parts[13]) + int(parts[14])) / hz
                    break
            except (OSError, ValueError, IndexError):
                continue
    except Exception:
        pass
    return gc_ms, cpu_s, jit_ms, code_mb


def _calibration(spark, runs: int = 2) -> float:
    """Constant-size in-memory groupBy (20M synthetic rows, 10k keys,
    32 partitions): best-of-``runs``, same protocol as the
    headliners (best-of-2); the stress section uses best-of-3."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .select(
                (F.col("id") % 9973).alias("k"),
                (F.col("id") % 97).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .count()
        )
        best = min(best, time.time() - t0)
    return round(best, 3)


def _env_flags(
    total: float,
    timings: dict,
    io_probe_s: float,
    io_probe_post_s: float,
) -> list[str]:
    """r16 environment adjudication (r15 verdict item 1): a uniformly
    slow tier passes every per-shot check (spreads flat, CPU probes
    fast), so flag on (a) the I/O probe sustaining >1.5× its committed
    clean reference, or (b) the tier total landing beyond 1.5× the
    committed clean-record band-high. (b) fires only when NO query was
    budget-cut — a partial tier total is legitimately unlike the
    band."""
    flags = []
    if min(io_probe_s, io_probe_post_s) > IO_PROBE_REF_S * 1.5:
        flags.append(
            f"io-degraded box: io_probe {io_probe_s}/"
            f"{io_probe_post_s}s vs clean ref {IO_PROBE_REF_S}s"
        )
    if (
        timings
        and all(v > 0 for v in timings.values())
        and total > STRESS_CLEAN_BAND_S[1] * 1.5
    ):
        flags.append(
            f"uniform-tier slowdown: total {total}s beyond 1.5x "
            f"clean band {STRESS_CLEAN_BAND_S}"
        )
    return flags


def _stress_10x(registry, spark, t_start: float, budget: float):
    """Single-shot timings on the 10×-sf0.1 replica (generated on
    first use, reused after). Skipped with a marker if the remaining
    budget can't cover generation (~90 s) + runs."""
    import shutil

    from tools.make_stress import build

    src = "/root/testdata/sf0.1"
    # cache key = fingerprint of the SOURCE parquet files: the round-4
    # ts-type flip showed testdata layout can change between rounds,
    # and a stale replica then benches the wrong data (or fails in
    # ways that only surface as stress_error)
    fingerprint = json.dumps(
        sorted(
            (p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for p in Path(src).glob("*.parquet")
        )
    )
    dst = str(Path(__file__).resolve().parent / "_scratch" / "stress10x")
    complete = Path(dst, "_COMPLETE")
    # _COMPLETE is JSON {"fingerprint": <source pin>, "layout":
    # {table: {files, rows, bytes}}} as of r14 (verdict item 3: the
    # r13 replica rebuild silently changed the physical layout and
    # moved stress-jaccard 1.8×; the layout is now deterministic —
    # make_stress hash-partitions every table into a fixed file count
    # — and pinned here + in the BENCH record). A pre-r14 raw-string
    # _COMPLETE fails the parse and forces one rebuild.
    cached = None
    if complete.exists():
        try:
            cached = json.loads(complete.read_text())["fingerprint"]
        except (ValueError, KeyError):
            cached = None
    elapsed = time.time() - t_start
    if cached != fingerprint:
        if elapsed > budget * 0.4:
            return {"skipped": f"budget spent ({elapsed:.0f}s elapsed)"}
        shutil.rmtree(dst, ignore_errors=True)
        build(src, dst, 10)
        layout = json.loads(Path(dst, "_LAYOUT.json").read_text())
        complete.write_text(
            json.dumps({"fingerprint": fingerprint, "layout": layout})
        )
    layout = json.loads(complete.read_text())["layout"]
    # Warm the Python worker pool before timing: the first
    # mapInPandas/pandas_udf of a session pays ~8-9 s of worker
    # startup (r8 recorded heavy_hitters_topk at 10.6 s single-shot
    # vs 1.5 s warm — the delta was fork/Arrow init, not the
    # operator). Session startup is a fixed cost, not throughput;
    # warm on synthetic rows so no replica data gets cached.
    spark.range(0, 100_000, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # A second calibration probe taken INSIDE the stress section:
    # single-shot stress numbers swing 2-5× with shared-box state
    # (dedup_components has been observed at 9 s and 45 s on the
    # SAME code and replica in one session), so the JSON carries the
    # box state measured at stress time — a slow stress total with a
    # proportionally slow stress_calibration_s is box noise, not a
    # plan regression. Best-of-3, not the headline best-of-2: taken
    # once after heavy cache churn, a single shot of this probe has
    # been observed 2.3× off the headline probe in the SAME process
    # (r9: 1.495 vs 0.645), which made the normalized stress series
    # move opposite to every raw number; the extra run bounds that.
    stress_calibration_s = _calibration(spark, runs=3)
    print(f"# stress calibration: {stress_calibration_s}s",
          file=sys.stderr)
    # I/O probe pre-tier (r16, see STRESS_CLEAN_BAND_S comment): the
    # CPU probe cannot sense a cold page cache / slow disk; this one
    # reads real replica bytes
    io_probe_s = _io_probe(spark, dst)
    print(f"# stress io probe: {io_probe_s}s", file=sys.stderr)
    from hdsp_hive_release_src_spark.operators import components

    # Reset so components_star_rounds below can only reflect the
    # stress-tier dedup_components run, never a stale value from an
    # earlier headline/entry call in the same process (r11 ADVICE).
    components.LAST_RUN_ROUNDS = None
    timings: dict[str, float] = {}
    shots: dict[str, list[float]] = {}
    # r15: per-shot JVM diagnostics; r16 extends them to EVERY stress
    # query (verdict item 1 — they are nearly free, and the r15 driver
    # capture would have been self-explaining with them): each shot
    # records whether slowness burned GC (gc_ms up), lost parallelism
    # (cpu_over_wall collapses toward 1), lost CPU entirely (cpu_s ≈
    # wall with low gc — external contention), or ran at full CPU and
    # still crawled (the I/O signature). Fast-mode reference on this
    # box: gc ≈ 25-130 ms/shot, cpu_over_wall ≈ 16-23.
    shot_diag: dict[str, list[dict]] = {}
    rows_per_sec: dict[str, float] = {}
    overrides = _stress_overrides()
    for name in STRESS_QUERIES:
        # Best-of-2, same protocol as the headliners (r11 verdict: two
        # consecutive rounds the single-shot stress series needed
        # out-of-band adjudication — semantic_dedup shipped 13.5 s in
        # BENCH_r11 on code unchanged since r6; idle-box re-reads were
        # 4.0-5.4 s). Budget rule: a query is either best-of-2 or cut
        # (-1.0) — never a shipped single-shot number. r14: every shot
        # recorded ("shots"), spread feeds the in-band noisy flag.
        if time.time() - t_start > budget:
            timings[name] = -1.0  # budget cut — visible, not silent
            continue
        fn = overrides.get(name, registry.QUERIES[name])
        best, n = float("inf"), 0
        shots[name] = []
        # fixed 4 shots for the known multi-modal queries (median is
        # the tracked number — see STRESS_HIGH_VARIANCE), best-of-2
        # (+adaptive 3rd) for the rest
        n_shots = 4 if name in STRESS_HIGH_VARIANCE else 2
        for shot in range(n_shots):
            # isolate each timing from the previous queries' leftover
            # cached plans: stress queries that persist (label
            # propagation caches 12 rounds; pagerank caches edges)
            # would otherwise contend for executor memory, and the
            # LAST query in the tier pays a position-dependent
            # eviction/spill tax (dedup_components was observed at
            # 9 s early-session vs 50 s after the tier grew).
            spark.catalog.clearCache()
            diag0 = _diag_counters(spark)
            t0 = time.time()
            n = fn(spark, dst).count()
            shot_s = time.time() - t0
            shots[name].append(round(shot_s, 3))
            if diag0 is not None:
                gc1, cpu1, jit1, code1 = _diag_counters(spark)
                shot_diag.setdefault(name, []).append(
                    {
                        "gc_ms": (
                            gc1 - diag0[0]
                            if None not in (gc1, diag0[0])
                            else None
                        ),
                        "cpu_s": (
                            round(cpu1 - diag0[1], 1)
                            if None not in (cpu1, diag0[1])
                            else None
                        ),
                        "cpu_over_wall": (
                            round((cpu1 - diag0[1]) / shot_s, 1)
                            if None not in (cpu1, diag0[1])
                            and shot_s > 0
                            else None
                        ),
                        "jit_ms": (
                            jit1 - diag0[2]
                            if None not in (jit1, diag0[2])
                            else None
                        ),
                        "code_heap_mb": code1,
                    }
                )
            best = min(best, shot_s)
            if shot == 0 and time.time() - t_start + shot_s > budget:
                # can't afford the confirming shot — cut the query
                # rather than ship a single-shot number
                best = -1.0
                print(f"# stress10x {name}: cut (no budget for "
                      f"2nd shot; 1st was {shot_s:.1f}s)",
                      file=sys.stderr)
                break
            if shot >= 1 and time.time() - t_start + shot_s > budget:
                # high-variance fixed-4 degrades gracefully: >=2 shots
                # is a valid (if weaker) record — stop adding shots,
                # keep the number, the shots array shows the count
                break
        if (
            best > 0
            and len(shots[name]) < 3
            and _shots_noisy(shots[name])
            and time.time() - t_start + best < budget
        ):
            # adaptive confirming shot, same rationale as the headline
            # tier: only a spread that SURVIVES a third shot is noise
            spark.catalog.clearCache()
            t0 = time.time()
            n = fn(spark, dst).count()
            shot_s = time.time() - t0
            shots[name].append(round(shot_s, 3))
            best = min(best, shot_s)
        timings[name] = round(best, 3)
        # output rate in-band: the clone-saturated replica makes the
        # dedup family output-bound (every embedding has 9 verbatim
        # twins), so wall-clock alone misreads as a regression —
        # pairs/s makes the regime self-explaining in the JSON
        if timings[name] > 0:
            rows_per_sec[name] = round(n / timings[name], 1)
            print(f"# stress10x {name}: {timings[name]}s ({n} rows)",
                  file=sys.stderr)
    # r17 noop twins (STRESS_NOOP comment): timed AFTER the count
    # series so the graded count-timed numbers keep their tier
    # position; additive names only, excluded from "value".
    noop_timings: dict[str, float] = {}
    for name in STRESS_NOOP:
        if time.time() - t_start > budget:
            break  # additive tier — silently absent is fine
        fn = overrides.get(name, registry.QUERIES[name])
        key = f"{name}_noop"
        shots[key] = []
        for shot in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            _noop(fn(spark, dst))
            shots[key].append(round(time.time() - t0, 3))
            if time.time() - t_start > budget:
                break
        if len(shots[key]) < 2:
            del shots[key]  # never ship a single-shot number
            continue
        if _shots_noisy(shots[key]) and time.time() - t_start < budget:
            spark.catalog.clearCache()
            t0 = time.time()
            _noop(fn(spark, dst))
            shots[key].append(round(time.time() - t0, 3))
        noop_timings[key] = min(shots[key])
        print(f"# stress10x {key}: {noop_timings[key]}s",
              file=sys.stderr)
    stress_calibration_post_s = _calibration(spark, runs=3)
    print(f"# stress calibration post: {stress_calibration_post_s}s",
          file=sys.stderr)
    io_probe_post_s = _io_probe(spark, dst)
    print(f"# stress io probe post: {io_probe_post_s}s", file=sys.stderr)
    total = round(sum(v for v in timings.values() if v > 0), 3)
    # median per high-variance query (the tracked number for these —
    # best-of-N on a multi-modal distribution samples a mode; the
    # median converges)
    from statistics import median

    medians = {
        q: round(median(ss), 3)
        for q, ss in shots.items()
        if q in STRESS_HIGH_VARIANCE and timings.get(q, -1.0) > 0
    }
    noisy_queries = sorted(
        q for q, ss in shots.items() if _shots_noisy(ss)
    )
    probe_pair = [stress_calibration_s, stress_calibration_post_s]
    probe_drift = (
        max(probe_pair) / min(probe_pair) if min(probe_pair) > 0 else 1.0
    )
    out = {
        "sf_equivalent": 1.0,
        "unit": "sec",
        # count-timed series first (the graded names "value" sums),
        # then the r17 additive "_noop" stress twins
        "queries": {**timings, **noop_timings},
        "shots": shots,
        "medians": medians,
        "shot_diag": shot_diag,
        "overrides": STRESS_OVERRIDE_TAGS,
        "output_rows_per_sec": rows_per_sec,
        "value": total,
        # the replica's pinned physical layout (verdict item 3): a
        # stress movement with an unchanged layout block is code or
        # box, never data
        "layout": layout,
        "stress_calibration_s": stress_calibration_s,
        "stress_calibration_post_s": stress_calibration_post_s,
        "stress_per_calibration": (
            round(total / stress_calibration_s, 2)
            if stress_calibration_s
            else None
        ),
        "stress_per_probe_mean": (
            round(
                total
                / (
                    (stress_calibration_s + stress_calibration_post_s)
                    / 2
                ),
                2,
            )
            if stress_calibration_s and stress_calibration_post_s
            else None
        ),
        "io_probe_s": io_probe_s,
        "io_probe_post_s": io_probe_post_s,
        "io_probe_ref_s": IO_PROBE_REF_S,
        "clean_band_s": list(STRESS_CLEAN_BAND_S),
        "noisy": bool(noisy_queries) or probe_drift > 1.5,
        "noisy_queries": noisy_queries,
        "probe_drift": round(probe_drift, 2),
    }
    env_flags = _env_flags(total, timings, io_probe_s, io_probe_post_s)
    out["env_flags"] = env_flags
    if env_flags:
        out["noisy"] = True
    # Realized star-components round count — a convergence regression
    # (e.g. a canonicalization bug doubling rounds) shows up in-band
    # instead of only as wall-clock. Emitted only when the stress-tier
    # dedup_components actually ran (r11 ADVICE: an unconditional read
    # could mislabel a stale headline value as the stress measurement).
    if timings.get("dedup_components", -1.0) > 0:
        out["components_star_rounds"] = components.LAST_RUN_ROUNDS
        # soft bound, in-band (bench never throws in aux sections);
        # the hard assert lives in tests/test_components*.py
        out["components_rounds_ok"] = (
            components.LAST_RUN_ROUNDS is not None
            and components.LAST_RUN_ROUNDS <= 8
        )
    return out


if __name__ == "__main__":
    main()

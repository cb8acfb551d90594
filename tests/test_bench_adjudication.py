"""r14 bench self-adjudication contract (verdict items 2-3).

BENCH_r13 shipped box-noise-inflated numbers that needed judge
re-measurement, and the r13 stress replica rebuild silently changed
the physical layout. These tests pin the two fixes: the noise metric
(_spread over the two best shots) and the deterministic replica
layout (two builds from the same source produce identical per-file
row placement)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest


class TestSpread:
    def test_spread_of_agreeing_shots_is_small(self):
        from bench import _spread

        assert _spread([1.0, 1.1]) == pytest.approx(1.1)
        assert _spread([2.0, 2.0, 9.0]) == pytest.approx(1.0)

    def test_cold_first_shot_resolved_by_confirming_shot(self):
        from bench import _spread

        # first two shots spread 2x -> adaptive third shot; the two
        # BEST (warm) shots agree, so the query is not noisy
        assert _spread([4.0, 2.0, 2.1]) == pytest.approx(2.1 / 2.0)

    def test_persistent_spread_is_noisy(self):
        from bench import _spread

        assert _spread([4.0, 2.0, 3.9]) > 1.5

    def test_budget_cut_shots_ignored(self):
        from bench import _spread

        assert _spread([-1.0]) == 1.0
        assert _spread([3.0]) == 1.0


class TestShotJitterFloor:
    """r16: the noisy flag needs an ABSOLUTE floor as well as the 1.5x
    relative spread. BENCH_r16 run 1 flagged its whole stress tier on
    q1's [0.361, 0.24] best pair — a 0.12 s scheduling/JIT delta on a
    sub-second query, not box state. _shots_noisy requires the best
    pair to disagree >1.5x AND by more than SHOT_JITTER_FLOOR_S."""

    def test_sub_second_spread_is_jitter_not_noise(self):
        from bench import _shots_noisy

        # the exact BENCH_r16 run-1 misfire: 1.50x relative but only
        # 0.12 s absolute — below the floor, not noisy
        assert not _shots_noisy([0.361, 0.24])

    def test_second_scale_spread_still_flags(self):
        from bench import _shots_noisy

        # a genuinely degraded box at second scale clears the floor
        assert _shots_noisy([4.0, 2.0, 3.9])

    def test_relative_gate_still_required(self):
        from bench import _shots_noisy

        # large absolute delta but <=1.5x relative: systematic warmup
        # band, not noise
        assert not _shots_noisy([10.0, 14.5])

    def test_cold_first_shot_with_agreeing_warm_pair_is_clean(self):
        from bench import _shots_noisy

        assert not _shots_noisy([4.0, 2.0, 2.1])

    def test_budget_cut_and_single_shots_are_clean(self):
        from bench import _shots_noisy

        assert not _shots_noisy([-1.0])
        assert not _shots_noisy([3.0])

    def test_floor_boundary_is_exclusive(self):
        from bench import SHOT_JITTER_FLOOR_S, _shots_noisy

        # delta just under the floor (relative gate already passed at
        # ~4x) -> not noisy; clearly past it -> noisy
        assert SHOT_JITTER_FLOOR_S == pytest.approx(0.3)
        assert not _shots_noisy([0.1, 0.39])
        assert _shots_noisy([0.1, 0.45])


class TestStressLayoutDeterminism:
    def test_two_builds_place_identical_rows_per_file(
        self, spark, sf_dir, tmp_path
    ):
        """Hash-partitioning on the primary id with a fixed file count
        makes the replica layout a pure function of the source — the
        property that makes round-over-round stress numbers
        comparable (SURVEY §6, r14)."""
        from tools.make_stress import build

        def sig(dst: Path) -> dict:
            # identify a file by its partition index (the part-NNNNN
            # prefix), not the full name — Spark embeds a random job
            # UUID in file names; determinism means the same ROWS land
            # in the same PARTITION
            out = {}
            for tdir in sorted(dst.glob("*.parquet")):
                import pyarrow.parquet as pq

                out[tdir.name] = sorted(
                    (f.name.split("-")[1], pq.read_metadata(f).num_rows)
                    for f in tdir.glob("*.parquet")
                )
            return out

        a, b = tmp_path / "rep_a", tmp_path / "rep_b"
        build(sf_dir, str(a), 2)
        build(sf_dir, str(b), 2)
        sig_a, sig_b = sig(a), sig(b)
        assert sig_a and sig_a == sig_b
        layout = json.loads((a / "_LAYOUT.json").read_text())
        assert set(layout) == {p.stem for p in a.glob("*.parquet")}
        for t, meta in layout.items():
            assert meta["rows"] > 0 and meta["files"] > 0
        # 2x replication doubles every table's rows exactly
        import pyarrow.parquet as pq

        for t, meta in layout.items():
            src_rows = pq.read_metadata(
                *list(Path(sf_dir).glob(f"{t}.parquet"))[:1]
            ).num_rows if (Path(sf_dir) / f"{t}.parquet").is_file() else (
                sum(
                    pq.read_metadata(f).num_rows
                    for f in (Path(sf_dir) / f"{t}.parquet").glob(
                        "*.parquet"
                    )
                )
            )
            assert meta["rows"] == 2 * src_rows
        shutil.rmtree(a, ignore_errors=True)
        shutil.rmtree(b, ignore_errors=True)


class TestTruncationProofSummary:
    """r15 (r14 verdict item 2): the driver keeps only the TAIL of
    bench stdout, and BENCH_r14 lost its headline tier that way. The
    record's final key is a compact summary duplicating every graded
    number, so the line's tail alone adjudicates the round."""

    RECORD = {
        "value": 4.507,
        "queries": {"q1_pricing_summary": 0.3},
        "total_per_calibration": 9.14,
        "total_per_probe_mean": 9.67,
        "noisy": False,
        "noisy_queries": [],
        "probe_drift": 1.06,
        "stress_10x": {
            "value": 17.1,
            "noisy": True,
            "noisy_queries": ["dedup_ngram_jaccard"],
            "queries": {
                "dedup_ngram_jaccard": 1.98,
                "dedup_components": 5.89,
            },
            "medians": {
                "dedup_ngram_jaccard": 2.4,
                "dedup_components": 6.1,
            },
        },
    }

    def test_summary_carries_every_graded_number(self):
        from bench import _summary

        s = _summary(self.RECORD)
        assert s["headline_total_s"] == 4.507
        assert s["ratio"] == 9.14
        assert s["probe_mean_ratio"] == 9.67
        assert s["noisy"] is False
        assert s["stress_total_s"] == 17.1
        assert s["stress_noisy"] is True
        assert s["stress_noisy_queries"] == ["dedup_ngram_jaccard"]
        assert s["stress_jaccard_best_s"] == 1.98
        assert s["stress_jaccard_median_s"] == 2.4
        assert s["stress_components_best_s"] == 5.89
        assert s["stress_components_median_s"] == 6.1
        assert s["stress_error"] is None

    def test_summary_survives_missing_stress_tier(self):
        from bench import _summary

        rec = {k: v for k, v in self.RECORD.items() if k != "stress_10x"}
        rec["stress_error"] = "RuntimeError: boom"
        s = _summary(rec)
        assert s["stress_total_s"] is None
        assert s["stress_error"] == "RuntimeError: boom"
        assert s["headline_total_s"] == 4.507

    def test_summary_is_the_last_key_of_the_record(self):
        """Insertion-order pin: json.dumps preserves dict order, so
        'summary last in main()' == 'summary at the line's tail'. The
        source assignment must be the final mutation before print."""
        import re
        from pathlib import Path

        src = (Path(__file__).parent.parent / "bench.py").read_text()
        # r17: the record is printed through _bound_record, which
        # prunes bulk diagnostics IN PLACE (dict order preserved, no
        # key ever appended) — summary stays the last key
        m = re.search(
            r'out\["summary"\] = _summary\(out\)\s*\n\s*'
            r"print\(json\.dumps\(_bound_record\(out\)\)\)",
            src,
        )
        assert m, "summary must be assigned immediately before print"

    def test_high_variance_queries_get_fixed_four_shots(self):
        from bench import STRESS_HIGH_VARIANCE, STRESS_QUERIES

        assert STRESS_HIGH_VARIANCE == {
            "dedup_ngram_jaccard",
            "dedup_components",
        }
        assert STRESS_HIGH_VARIANCE <= set(STRESS_QUERIES)


class TestEnvAdjudication:
    """r16 (r15 verdict item 1): the uniform-tier blind spot. The r15
    driver capture (stress 35.0 s, noisy:false, judge-adjudicated to
    18.2 s box I/O) passed both per-shot checks because every query
    was steadily ~2× slow while the in-memory probe stayed fast. The
    env adjudication must flag exactly that record."""

    def test_the_r15_driver_capture_flags(self):
        # the historical record: 35.0 s total, all queries ran, I/O
        # probe unavailable then — simulate a degraded-disk reading
        from bench import _env_flags

        flags = _env_flags(
            35.021, {"q1_pricing_summary": 2.0}, 1.2, 1.4
        )
        assert any("io-degraded" in f for f in flags)
        assert any("uniform-tier slowdown" in f for f in flags)

    def test_clean_record_carries_no_flags(self):
        from bench import IO_PROBE_REF_S, _env_flags

        assert _env_flags(
            18.2, {"q1_pricing_summary": 2.0}, IO_PROBE_REF_S,
            IO_PROBE_REF_S * 1.2,
        ) == []

    def test_one_transient_slow_probe_is_not_degradation(self):
        # min-of-pair: a single cold probe with a fast twin is warmup,
        # not a sustained I/O problem
        from bench import IO_PROBE_REF_S, _env_flags

        assert _env_flags(
            18.2, {"q1": 2.0}, IO_PROBE_REF_S * 3, IO_PROBE_REF_S
        ) == []

    def test_budget_cut_tier_skips_the_band_check(self):
        # a partial total is legitimately unlike the band; the I/O
        # check still applies
        from bench import IO_PROBE_REF_S, _env_flags

        flags = _env_flags(
            35.0, {"q1": 2.0, "q5": -1.0}, IO_PROBE_REF_S,
            IO_PROBE_REF_S,
        )
        assert flags == []

    def test_io_probe_reads_real_bytes(self, spark):
        # smoke: the probe runs against any dir holding orders.parquet
        # and returns a positive wall-clock
        from bench import _io_probe

        assert _io_probe(spark, "/root/testdata/sf0.001") > 0

    def test_summary_carries_env_flags(self):
        from bench import _summary

        rec = dict(TestTruncationProofSummary.RECORD)
        stress = dict(rec["stress_10x"])
        stress["env_flags"] = ["io-degraded box: ..."]
        stress["io_probe_s"] = 1.2
        stress["io_probe_post_s"] = 1.4
        rec["stress_10x"] = stress
        s = _summary(rec)
        assert s["stress_env_flags"] == ["io-degraded box: ..."]
        assert s["stress_io_probe_s"] == 1.2
        assert s["stress_io_probe_post_s"] == 1.4


class TestCodeCacheMitigation:
    """r15: the stress slow mode (intermittent 10x-CPU shots on
    unchanged code, r12-r14) was A/B-confirmed as JVM code-cache
    exhaustion — a 64m cache reproduced a 43.7 s / 844-CPU-s jaccard
    shot that a 512m cache eliminated (A/B probe recorded in SURVEY
    §6). These pins keep the mitigation and its diagnostics wired."""

    def test_get_spark_reserves_512m_code_cache(self, spark):
        # config-level pin: works whether or not this session's JVM
        # was launched by get_spark (the option must be REQUESTED; a
        # foreign JVM ignores it by design)
        from hdsp_hive_release_src_spark.session import get_spark

        s = get_spark(app_name="cc_pin")
        opts = s.conf.get("spark.driver.extraJavaOptions", "")
        assert "-XX:ReservedCodeCacheSize=512m" in opts

    def test_driver_java_opts_env_is_appended(self, spark, monkeypatch):
        # r16 (r15 ADVICE): a deployment's own driver JVM options must
        # survive — the code-cache flag appends to, never replaces,
        # SPARK_GRAFT_DRIVER_JAVA_OPTS
        from hdsp_hive_release_src_spark.session import get_spark

        monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseG1GC")
        s = get_spark(app_name="cc_env_pin")
        opts = s.conf.get("spark.driver.extraJavaOptions", "")
        assert opts == "-XX:+UseG1GC -XX:ReservedCodeCacheSize=512m"
        # restore the default requested opts for later tests in this
        # shared session
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS")
        get_spark(app_name="cc_env_pin_restore")

    def test_diag_counters_fail_soft_and_live(self, spark):
        from bench import _diag_counters

        gc_ms, cpu_s, jit_ms, code_mb = _diag_counters(spark)
        # on the local-mode JVM all four should be readable
        assert gc_ms is None or gc_ms >= 0
        assert jit_ms is None or jit_ms >= 0
        if code_mb is not None:
            assert code_mb["max"] > 0

        class Broken:
            class sparkContext:
                _jvm = None

        g, c, j, cc = _diag_counters(Broken)
        assert (g, j, cc) == (None, None, None)


class TestNoopTier:
    """r16 (guide §1.4 measurement audit): count() prunes aggregate
    values and final sorts, undercounting three headliners (measured
    q9 1.44×, window_topk 1.65×, sessionization 1.58× noop/count at
    sf0.1). The noop-sink tier adds "<name>_noop" entries carrying
    the full-computation cost; the historical count-timed series and
    the graded "value" total stay untouched."""

    def test_noop_action_computes_every_row(self, spark):
        from bench import _noop

        # executes eagerly (a lazy plan would return instantly and
        # time nothing) and tolerates repeated runs (mode=overwrite)
        df = spark.range(0, 1000, 1, 2).selectExpr("id", "id * 2 AS v")
        _noop(df)
        _noop(df)

    def test_value_sums_only_the_count_timed_series(self):
        """Source pin: the graded headline total must keep summing the
        ORIGINAL count-timed entries (r1-comparable), with the noop
        additions merged into "queries" after, never into "value"."""
        from pathlib import Path

        src = (Path(__file__).parent.parent / "bench.py").read_text()
        assert "total = round(sum(timings.values()), 3)" in src
        assert '"queries": {**timings, **noop_timings}' in src

    def test_summary_carries_noop_total(self):
        from bench import _summary

        rec = dict(TestTruncationProofSummary.RECORD)
        rec["noop_total_s"] = 5.9
        assert _summary(rec)["noop_total_s"] == 5.9
        # absent on an old-format record — fail-soft, not KeyError
        assert (
            _summary(TestTruncationProofSummary.RECORD)["noop_total_s"]
            is None
        )


class TestShuffleDefaultScalesWithCores:
    """r16 (guide §2.2, round rule on scale-dependent settings): the
    default initial shuffle-partition count derives from the actual
    core count instead of a local[32]-tuned constant 32. Measured at
    sf0.1 on local[8]: 32 partitions ran the noop headline total ~15%
    and the fixed-size calibration probe ~35% slower than 16 (4 waves
    of tiny tasks per exchange). At 32 cores the default still
    resolves to 32, keeping the bench series comparable."""

    def test_derives_from_spark_graft_cpus(self, monkeypatch):
        from hdsp_hive_release_src_spark.session import (
            _default_shuffle_partitions,
        )

        monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
        assert _default_shuffle_partitions() == 16  # floor
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "24")
        assert _default_shuffle_partitions() == 24
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
        assert _default_shuffle_partitions() == 64

    def test_reference_box_resolves_to_32(self, monkeypatch):
        """The series pin: 32 cores -> 32 partitions, byte-identical
        bench configuration to every pre-r16 record on this box."""
        from hdsp_hive_release_src_spark.session import (
            _default_shuffle_partitions,
        )

        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        assert _default_shuffle_partitions() == 32

    def test_env_override_still_wins(self, monkeypatch, spark):
        """SPARK_GRAFT_SHUFFLE remains the cluster-deployment
        override on the runtime-settable tune_for_oracle path."""
        from hdsp_hive_release_src_spark.session import tune_for_oracle

        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "123")
        try:
            tune_for_oracle(spark)
            assert (
                spark.conf.get("spark.sql.shuffle.partitions") == "123"
            )
        finally:
            monkeypatch.delenv("SPARK_GRAFT_SHUFFLE")
            tune_for_oracle(spark)

    def test_nonnumeric_cpus_falls_back_to_host(self, monkeypatch):
        import os as _os

        from hdsp_hive_release_src_spark.session import (
            _default_shuffle_partitions,
        )

        monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
        assert _default_shuffle_partitions() == max(
            16, _os.cpu_count() or 16
        )


class TestRecordByteBudget:
    """r17 (r16 verdict item 6): BENCH_r14/r15 both failed to parse
    driver-side because the one-line record outgrew the driver's
    stdout tail. The record is now hard-bounded: past
    RECORD_BYTE_BUDGET, bulk diagnostics move to a side artifact and
    shot_diag/layout shrink; graded keys are never touched."""

    @staticmethod
    def _fat_record():
        import json

        diag = {
            f"q{i}": [
                {"gc_ms": 1, "cpu_s": 2.0, "cpu_over_wall": 3.0,
                 "jit_ms": 4, "pad": "x" * 500}
                for _ in range(8)
            ]
            for i in range(40)
        }
        rec = {
            "metric": "headline_queries_total_wall_clock",
            "value": 5.0,
            "unit": "sec",
            "queries": {"q1_pricing_summary": 0.3},
            "shots": {"q1_pricing_summary": [0.4, 0.3]},
            "stress_10x": {
                "queries": {"dedup_ngram_jaccard": 2.5},
                "shot_diag": diag,
                "layout": {"orders": {"bytes": 1, "files": 32}},
                "noisy_queries": ["q1"],
                "value": 17.0,
            },
            "summary": {"headline_total_s": 5.0},
        }
        assert len(json.dumps(rec)) > 60_000  # genuinely oversized
        return rec

    def test_small_record_passes_through_untouched(self):
        import copy

        from bench import _bound_record

        rec = {"value": 1.0, "queries": {}, "summary": {}}
        assert _bound_record(copy.deepcopy(rec)) == rec

    def test_oversized_record_lands_under_budget(self):
        import json

        from bench import RECORD_BYTE_BUDGET, _bound_record

        out = _bound_record(self._fat_record())
        assert len(json.dumps(out)) <= RECORD_BYTE_BUDGET

    def test_pruning_keeps_graded_keys_and_summary_last(self):
        from bench import _bound_record

        out = _bound_record(self._fat_record())
        assert out["value"] == 5.0
        assert out["queries"] == {"q1_pricing_summary": 0.3}
        assert out["stress_10x"]["queries"] == {
            "dedup_ngram_jaccard": 2.5
        }
        assert list(out)[-1] == "summary"

    def test_pruning_keeps_noisy_query_diag_first(self):
        """The first pruning stage keeps exactly the flagged queries'
        diagnostics (they are the ones a reader needs in-band)."""
        from bench import _bound_record

        rec = self._fat_record()
        # make the record small enough that stage 1 suffices
        rec["stress_10x"]["shot_diag"] = {
            "q1": rec["stress_10x"]["shot_diag"]["q1"],
            "q2": rec["stress_10x"]["shot_diag"]["q2"],
        }
        rec["stress_10x"]["shot_diag"]["q1"] = [
            {"gc_ms": 1, "pad": "x" * 70000}
        ]
        out = _bound_record(rec)
        # q2 (not noisy) dropped in stage 1; q1 itself is so large the
        # second stage removes shot_diag wholesale — either way the
        # un-flagged query's bulk diag is gone
        assert "q2" not in out["stress_10x"].get("shot_diag", {})

    def test_last_stage_drops_medians_then_warns(self, capsys):
        """Past shot_diag/layout, the non-graded medians and
        rows-per-sec maps go; a record whose GRADED keys alone exceed
        the budget is not cut further but reported on stderr."""
        import json

        from bench import RECORD_BYTE_BUDGET, _bound_record

        rec = self._fat_record()
        many = {f"q{i}_{'x' * 40}": 1.0 for i in range(1000)}
        rec["stress_10x"]["medians"] = dict(many)
        rec["stress_10x"]["output_rows_per_sec"] = dict(many)
        out = _bound_record(rec)
        assert "medians" not in out["stress_10x"]
        assert "output_rows_per_sec" not in out["stress_10x"]
        assert len(json.dumps(out)) <= RECORD_BYTE_BUDGET
        assert "WARNING" not in capsys.readouterr().err

        rec = self._fat_record()
        rec["queries"] = dict(many)
        rec["shots"] = {q: [1.0, 1.0] for q in many}
        out = _bound_record(rec)
        assert out["queries"] == many and list(out)[-1] == "summary"
        assert "over the 60000-byte budget" in capsys.readouterr().err


class TestStressNoopTier:
    """r17 (r16 verdict item 5): stress noop twins for the two stress
    members the r16 §1.4 audit proved count-undermeasured (q9 1.44×,
    sessionization 1.58×). Additive names; stress value composition
    unchanged."""

    def test_stress_noop_names_are_count_undermeasured_members(self):
        from bench import STRESS_NOOP, STRESS_QUERIES

        assert set(STRESS_NOOP) <= set(STRESS_QUERIES)
        assert set(STRESS_NOOP) == {
            "q9_product_profit",
            "sessionization",
        }

    def test_stress_value_sums_only_count_timed_entries(self):
        """Source pin, same discipline as the headline tier: the
        stress total sums `timings` (count series) while the record's
        "queries" merges the noop additions after."""
        from pathlib import Path

        src = (Path(__file__).parent.parent / "bench.py").read_text()
        assert (
            'total = round(sum(v for v in timings.values() if v > 0), 3)'
            in src
        )
        # the stress out dict merges additively, value stays `total`
        assert src.count('"queries": {**timings, **noop_timings}') == 2


class TestHeadlineTripleShot:
    """r17 (r16 verdict item 7): q3/q18 regressed >10% in the r16
    round-over-round table purely on cold first shots (shots
    [0.873, 0.636] / [0.908, 0.673] with no code diff). A fixed third
    shot halves the cold-draw odds; protocol addition only."""

    def test_members(self):
        from bench import HEADLINE_TRIPLE_SHOT, HEADLINERS

        assert HEADLINE_TRIPLE_SHOT == {
            "q3_shipping_priority",
            "q18_large_volume_customer",
        }
        assert HEADLINE_TRIPLE_SHOT <= set(HEADLINERS)

"""``session.get_spark`` / ``tune_for_oracle`` settings: the JVM
code-cache mitigation, the JVM counter reader ``bench._diag_counters``
and the core-scaled shuffle default."""

from __future__ import annotations


class TestCodeCacheMitigation:
    """Intermittent 10x-CPU slow calls on unchanged code were
    A/B-confirmed as JVM code-cache exhaustion: a 64m cache reproduced
    a 43.7 s / 844-CPU-s jaccard call that a 512m cache eliminated (A/B
    probe recorded in SURVEY §6). These pins keep the mitigation and
    the JVM counter reader wired."""

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


class TestShuffleDefaultScalesWithCores:
    """r16 (guide §2.2, round rule on scale-dependent settings): the
    default initial shuffle-partition count derives from the actual
    core count instead of a local[32]-tuned constant 32. Measured at
    sf0.1 on local[8]: 32 partitions ran the noop headline total ~15%
    and the fixed-size calibration probe ~35% slower than 16 (4 waves
    of tiny tasks per exchange). At 32 cores the default still
    resolves to 32, the old constant."""

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
        """32 cores -> 32 partitions: on a 32-core host the session
        configuration equals the one the fixed constant gave."""
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

"""Pin the parity gate's verdicts (tools/check_oracle.check).

The full-registry parity gate runs at sf0.1 inside tools/run_gates.py
and reads these verdicts directly. This test keeps the guarantee that
a FAIL cannot vanish on its way to the record: a correct oracle gives
PASS, and a deliberately wrong one gives FAIL.
"""

from __future__ import annotations


def test_check_verdicts_pass_and_fail(spark, sf_dir, monkeypatch):
    from hdsp_hive_release_src_spark import registry
    from tools.check_oracle import check

    registry.load_all()
    name = "q6_revenue_forecast"
    assert check(spark, sf_dir, [name])[name][0] == "PASS"
    monkeypatch.setitem(
        registry.ORACLES,
        name,
        f"SELECT revenue + 1 AS revenue FROM ({registry.ORACLES[name]})",
    )
    status, detail = check(spark, sf_dir, [name])[name]
    assert status == "FAIL" and detail.startswith("value mismatch")

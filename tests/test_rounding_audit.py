"""Guard for the round-over-float audit (tools/audit_rounding.py).

The committed tools/ROUNDING_AUDIT.json is the evidence that every
float-class round() site survived the order fuzz (two materially
different partitionings -> identical canonical output) at the
driver's sf0.01. This test re-derives the static inventory and fails
if a query grew a NEW float-class round site that the committed audit
has not fuzzed — the fragile class cannot silently expand."""

from __future__ import annotations

import json
from pathlib import Path

AUDIT = Path(__file__).resolve().parent.parent / "tools" / (
    "ROUNDING_AUDIT.json"
)


def test_float_round_sites_all_audited():
    from tools.audit_rounding import static_inventory

    committed = json.loads(AUDIT.read_text())
    inv = static_inventory()
    current_float = {
        n for n, d in inv.items() if d["query_class"] == "float"
    }
    audited = {
        n
        for n, d in committed["inventory"].items()
        if d.get("fuzz") == "stable"
        or str(d.get("fuzz", "")).startswith("layout-sensitive:")
    }
    missing = sorted(current_float - audited)
    assert not missing, (
        f"float-class round() sites without a committed stable fuzz "
        f"run: {missing} — run tools/audit_rounding.py and commit the "
        f"refreshed ROUNDING_AUDIT.json"
    )


def test_grid_columns_still_on_grid(duck):
    """The 'grid' classification is only sound while every money
    column is an exact 2-decimal value; re-verify on the test data."""
    for t, c in [
        ("lineitem", "l_extendedprice"), ("lineitem", "l_quantity"),
        ("lineitem", "l_discount"), ("lineitem", "l_tax"),
        ("orders", "o_totalprice"), ("customer", "c_acctbal"),
        ("supplier", "s_acctbal"),
        ("part", "p_retailprice"), ("events", "value"),
    ]:
        off = duck.execute(
            f"SELECT count(*) FROM {t} WHERE {c} != round({c}, 2)"
        ).fetchone()[0]
        assert off == 0, f"{t}.{c} drifted off the 2dp grid"


def test_fuzz_results_contain_no_failures():
    committed = json.loads(AUDIT.read_text())
    bad = {
        n: d["fuzz"]
        for n, d in committed["inventory"].items()
        if "fuzz" in d
        and d["fuzz"] != "stable"
        and not str(d["fuzz"]).startswith("layout-sensitive:")
    }
    assert not bad, f"committed audit contains failures: {bad}"


def test_no_pandas_dtype_drift_in_any_oracle():
    """Registry-wide DESCRIBE scan: no oracle may declare an output
    column whose DuckDB->pandas dtype diverges from Spark's pandas
    rendering (HUGEINT/UHUGEINT -> float64, DECIMAL -> float64 vs
    object). This is the r7 red-row mechanism (`sum()` over INTEGER
    returns HUGEINT) — live scan, not a committed snapshot, so a new
    offender fails the suite the day it lands."""
    from tests.conftest import SF_SMOKE
    from tools.audit_rounding import dtype_drift_scan

    drift = dtype_drift_scan(SF_SMOKE)
    assert not drift, (
        f"oracle output columns with pandas dtype drift (add an "
        f"explicit CAST): {drift}"
    )


def test_layout_sensitive_allowlist_has_reasons():
    from tools.audit_rounding import LAYOUT_SENSITIVE

    for name, why in LAYOUT_SENSITIVE.items():
        assert len(why) > 20, f"{name}: justification required"


def test_no_float_image_rounds():
    """r17 (r16 verdict item 8): the registry-wide convention is
    'round on the exact representation, never the float image' — a
    round(CAST(sum(<decimal>) AS DOUBLE), k) site can diverge
    cross-engine at an exact k-dp half (the r16 q9 replica find; the
    two MV rollups carried the same pattern and were fixed to
    CAST(round(sum, k) AS DOUBLE) in lockstep with their oracles).
    Any new site of the pattern fails here."""
    from tools.audit_rounding import float_image_rounds

    hits = float_image_rounds()
    assert not hits, (
        f"round-over-double-image-of-decimal-sum sites found: {hits} "
        f"— round the exact decimal first, then cast (q9 convention)"
    )


def test_float_image_scan_covers_engine_sources(tmp_path):
    """The convention binds the implementation as well as the oracle: a
    compliant oracle does not make an engine-side
    F.round(F.sum(<decimal>).cast("double"), k) safe. A planted site
    anywhere under the scanned source directory, subpackages included,
    must be reported; the safe spellings (round the exact sum, then
    cast; integer sums) must not."""
    from tools.audit_rounding import float_image_rounds

    (tmp_path / "planted.py").write_text(
        'a = F.round(F.sum("rev").cast("double"), 2)\n'
        'b = F.round(F.sum("rev"), 2).cast("double")\n'
        'c = F.round(F.sum(F.col("n").cast("bigint")).cast("double"), 2)\n'
    )
    # a site in a subpackage (a domain subpackage, operators/) counts too
    (tmp_path / "domain").mkdir()
    (tmp_path / "domain" / "nested.py").write_text(
        'd = F.round(F.sum("amt").cast("double"), 2)\n'
    )
    assert float_image_rounds(tmp_path) == {
        f"{tmp_path.name}/planted.py": ['f.sum("rev").cast("double")'],
        f"{tmp_path.name}/domain/nested.py": ['f.sum("amt").cast("double")'],
    }

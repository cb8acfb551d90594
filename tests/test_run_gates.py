"""Pin the gate runner's record (tools/run_gates.py → tools/GATES.json).

The full gate run is a round-start activity; these tests pin what must
not drift silently between runs: the pinned scan baseline staying in
sync with the committed record, the both-directions scan criterion,
and the zero-actionable verdicts of the other plan and execution
gates.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from run_gates import KNOWN_SCAN_FLAGGED  # noqa: E402


def _gates() -> dict:
    return json.loads((REPO / "tools" / "GATES.json").read_text())["gates"]


class TestScanBaseline:
    def test_pin_matches_committed_artifact(self):
        """The runner's 9-name pin and the committed record must name
        the same set — updating one without the other would make the
        gate lie in one direction."""
        scan = _gates()["scan"]
        assert set(scan["flagged"]) == KNOWN_SCAN_FLAGGED
        assert scan["ok"] and not scan["new_vs_pin"]
        assert not scan["gone_vs_pin"]

    def test_both_directions_gate(self):
        """A NEW flagged name and a DISAPPEARED pinned name both fail
        the gate — a vanished flag means a plan changed without
        adjudication just as much as a new one does."""
        import run_gates

        known = run_gates.KNOWN_SCAN_FLAGGED
        flagged_extra = {n: "x" for n in known} | {"brand_new": "x"}
        flagged_missing = {n: "x" for n in sorted(known)[:-1]}
        new = sorted(set(flagged_extra) - known)
        gone = sorted(known - set(flagged_extra))
        assert new == ["brand_new"] and gone == []
        new2 = sorted(set(flagged_missing) - known)
        gone2 = sorted(known - set(flagged_missing))
        assert new2 == [] and len(gone2) == 1


class TestArtifactCriteria:
    def test_runtime_sweep_criterion_matches_artifact_shape(self):
        """The execution gate's counters exist in the committed record
        and are all zero: no actionable executed-scan amplification, no
        DISK_ONLY persist surviving a query, no query error."""
        runtime = _gates()["runtime"]
        assert runtime["n_actionable"] == 0
        assert runtime["n_retained_cache_actionable"] == 0
        assert not runtime["errors"]  # empty dict of name -> error

    def test_subtree_and_bnlj_criteria_match_artifact_shape(self):
        gates = _gates()
        assert gates["subtree"]["n_flagged"] == 0
        assert gates["bnlj"]["n_actionable"] == 0

"""Layout guards for the query package: one module per domain, found by
discovery, with every shared primitive in one home outside
``queries/``. Spark-free: the AST checks read sources, and the
import-order check only imports modules in child interpreters."""

from __future__ import annotations

import ast
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG_DIR = REPO / "hdsp_hive_release_src_spark"
QUERIES_DIR = PKG_DIR / "queries"
QUERIES_PKG = "hdsp_hive_release_src_spark.queries"

# perfbench/workloads.py imports heavy_hitters_tokens_with_den from this
# path, and the benchmark's files are outside this package's reach: the
# module re-exports it from queries/text/corpus.py and registers nothing.
BENCHMARK_IMPORT_PATH = QUERIES_DIR / "llm9.py"

_WAVE_NAME = re.compile(r"^(round.*|llm\d.*|.*suite.*)\.py$")


def _query_sources() -> list[Path]:
    return sorted(
        p for p in QUERIES_DIR.rglob("*.py") if p != BENCHMARK_IMPORT_PATH
    )


def _imported_modules(tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            out.append(node.module)
            if node.module == QUERIES_PKG:
                out += [f"{node.module}.{a.name}" for a in node.names]
        elif isinstance(node, ast.Import):
            out += [a.name for a in node.names]
    return out


def test_no_query_module_imports_another():
    offenders = {
        str(p.relative_to(REPO)): mods
        for p in _query_sources()
        if (mods := [
            m for m in _imported_modules(ast.parse(p.read_text()))
            if m.startswith(QUERIES_PKG + ".")
        ])
    }
    assert not offenders, (
        f"query modules importing other query modules: {offenders} — "
        "move the shared piece to operators/, functions/ or sources/"
    )


def test_no_file_named_by_build_wave():
    wave = [
        str(p.relative_to(REPO))
        for p in PKG_DIR.rglob("*.py")
        if _WAVE_NAME.match(p.name) and p != BENCHMARK_IMPORT_PATH
    ]
    assert not wave, f"files named by build wave: {wave}"


def test_load_all_keeps_no_module_list():
    tree = ast.parse((PKG_DIR / "registry.py").read_text())
    load_all = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "load_all"
    )
    listed = [
        a.name
        for n in ast.walk(load_all)
        if isinstance(n, ast.ImportFrom) and n.module == QUERIES_PKG
        for a in n.names
        if a.name != "queries"
    ]
    assert not listed, f"load_all imports query modules by name: {listed}"


_DUMP = """
import importlib, json, pkgutil, sys
from hdsp_hive_release_src_spark import queries, registry
names = [m.name for m in pkgutil.walk_packages(
    queries.__path__, queries.__name__ + ".")]
if sys.argv[1] == "reverse":
    for name in reversed(names):
        importlib.import_module(name)
registry.load_all()
print(json.dumps({"modules": names, "queries": list(registry.QUERIES),
                  "oracles": list(registry.ORACLES.items())}))
"""


def _dump(order: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP, order],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.splitlines()[-1])


def test_registry_does_not_depend_on_import_order():
    """Importing the query modules in reverse discovery order, in a fresh
    interpreter, yields the same walk order and the same oracles as a
    plain load_all: no module reads the registry while it imports."""
    normal, reverse = _dump("normal"), _dump("reverse")
    assert len(normal["modules"]) > 10
    assert reverse["queries"] == normal["queries"]
    assert reverse["oracles"] == normal["oracles"]

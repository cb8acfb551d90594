"""Layout guards for the query package: one module per domain, found by
discovery, with every shared primitive in one home outside
``queries/``, and the benchmark's import shims holding one name each.
Spark-free: the AST checks read sources, and the import-order check
only imports modules in child interpreters."""

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

# perfbench imports one name from each of these paths, and the
# benchmark's files are outside this package's reach: each file keeps
# that name (llm9.py re-exports it from queries/text/corpus.py) and
# registers and runs nothing.
BENCHMARK_IMPORT_PATH = QUERIES_DIR / "llm9.py"
PERFBENCH_SHIMS = {
    BENCHMARK_IMPORT_PATH: "heavy_hitters_tokens_with_den",
    REPO / "bench.py": "_diag_counters",
}
# the one test of bench._diag_counters
BENCH_IMPORTER = REPO / "tests" / "test_session.py"

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


def _shim_names(tree: ast.Module) -> list[str]:
    """Top-level names a shim binds, other than whole-module imports and
    ``from __future__``; any other kind of statement (a registration, a
    ``__main__`` block) is reported by its node type."""
    out = []
    for node in tree.body[1:] if ast.get_docstring(tree) else tree.body:
        if isinstance(node, ast.FunctionDef):
            out.append(node.name)
        elif isinstance(node, ast.ImportFrom):
            if node.module != "__future__":
                out += [a.asname or a.name for a in node.names]
        elif not isinstance(node, ast.Import):
            out.append(type(node).__name__)
    return out


def test_perfbench_shims_hold_only_the_imported_name():
    extra = {
        str(path.relative_to(REPO)): names
        for path, name in PERFBENCH_SHIMS.items()
        if (names := _shim_names(ast.parse(path.read_text()))) != [name]
    }
    assert not extra, f"perfbench shims defining more than one name: {extra}"


def _bench_imports(tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "bench":
            out += [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            out += [a.name for a in node.names if a.name == "bench"]
    return out


def test_only_the_counter_test_imports_bench():
    importers = {
        path: names
        for root in (PKG_DIR, REPO / "tools", REPO / "tests")
        for path in root.rglob("*.py")
        if (names := _bench_imports(ast.parse(path.read_text())))
    }
    assert importers == {BENCH_IMPORTER: ["_diag_counters"]}, importers


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

"""Round-over-float-accumulation audit (the r5 → r6 sweep).

The one red driver row in round 5 (`dsir_importance_weights`) was a
``round(sum(<float>), 4)`` whose pre-round value sat within
accumulation-order noise of a rounding boundary — Spark's partial-agg
order differs run to run and engine to engine, so the same data can
round differently. This tool sweeps EVERY oracle for ``round(...)``
sites and classifies each:

- ``grid``: round over sums/values of cent-grid columns (all money
  columns in the testdata are exact 2-decimal values — verified here,
  not assumed). The sum is within float-noise of a grid point, which
  is 0.005 from the nearest rounding boundary: ~1e9× the worst
  plausible accumulation error. Safe by construction.
- ``int``: round over integer-only arithmetic. Exact. Safe.
- ``float``: round over products / ratios / logs / averages — the
  value can sit anywhere relative to the boundary grid. These queries
  get the ORDER FUZZ: run the Spark impl under materially different
  partitioning (shuffle partitions 3 vs 32, tiny vs default input
  splits → different partial-aggregation trees), canonicalize the way
  the gate does, and require identical output. This exercises exactly
  the variance that flipped dsir (the driver's session partitions
  differently than the local replica).

Float-class queries must either pass the fuzz or be restructured
(deterministic fold / exact arithmetic / tolerance oracle — see
dsir_importance_weights in queries/text/quality.py for the pattern).
Results land in ``tools/ROUNDING_AUDIT.json``;
tests/test_rounding_audit.py fails if a new float-class round site
appears that is not in the committed audit, so the class cannot
silently grow.

Usage::

    PYTHONPATH=/root/repo python tools/audit_rounding.py [sf_dir]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# verified 2-decimal-grid columns (see the audit docstring; re-checked
# against the parquet below before classifying anything as grid)
GRID_COLS = (
    "l_extendedprice l_quantity l_discount l_tax o_totalprice "
    "c_acctbal s_acctbal p_retailprice value total_value price"
).split()

_FLOAT_TOKENS = (
    "*", "/", "avg(", "ln(", "log(", "exp(", "sqrt(", "percentile",
    "median", "stddev", "var_", "variance", "corr(", "covar",
    "regr_", "power(", "pow(", "kurtosis", "skewness", "atan",
    "radians", "list_reduce",
)


def round_sites(sql: str) -> list[str]:
    """Inner expressions of every round(...) call, balanced-paren."""
    out = []
    low = sql.lower()
    i = 0
    while True:
        j = low.find("round(", i)
        if j < 0:
            break
        # skip identifiers ending in 'round(' (none today, be safe)
        if j > 0 and (low[j - 1].isalnum() or low[j - 1] == "_"):
            i = j + 6
            continue
        depth, k = 1, j + 6
        while k < len(sql) and depth:
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            k += 1
        out.append(" ".join(sql[j + 6 : k - 1].split()))
        i = k
    return out


def classify(expr: str) -> str:
    low = expr.lower()
    # strip the digits argument (last top-level comma)
    depth = 0
    cut = len(low)
    for idx in range(len(low) - 1, -1, -1):
        ch = low[idx]
        if ch == ")":
            depth += 1
        elif ch == "(":
            depth -= 1
        elif ch == "," and depth == 0:
            cut = idx
            break
    body = low[:cut]
    if any(tok in body for tok in _FLOAT_TOKENS):
        # products of grid values scaled straight to integers are exact
        if re.fullmatch(
            r"\s*(cast\s*\()?\s*\w+(\.\w+)?\s*\*\s*100\s*\)?\s*", body
        ):
            return "int"
        return "float"
    inner = re.fullmatch(
        r"\s*(sum|min|max|coalesce|first|last|any_value)?\s*\(?"
        r"\s*(distinct\s+)?([a-z0-9_.]+)\s*\)?\s*",
        body,
    )
    if inner and inner.group(3):
        col = inner.group(3).split(".")[-1]
        if col in GRID_COLS:
            return "grid"
    if re.search(r"count\(|sum\(", body) and not any(
        c in body for c in GRID_COLS
    ):
        # sums of integer expressions (CASE WHEN ... 1 ... etc.)
        if not re.search(r"\d+\.\d", body):
            return "int"
    # bare grid column / simple additive forms over grid columns
    toks = re.findall(r"[a-z_][a-z0-9_]*", body)
    if toks and all(
        t in GRID_COLS
        or t in {"sum", "min", "max", "case", "when", "then", "else",
                 "end", "null", "coalesce", "over", "partition", "by",
                 "order", "rows", "between", "preceding", "following",
                 "current", "row", "and", "unbounded", "w", "distinct",
                 "filter", "where", "is", "not"}
        for t in toks
    ):
        return "grid"
    return "float"


def verify_grid_cols(sf_dir: str) -> None:
    import duckdb

    con = duckdb.connect()
    table_cols = {
        "lineitem": ["l_extendedprice", "l_quantity", "l_discount",
                     "l_tax"],
        "orders": ["o_totalprice"],
        "customer": ["c_acctbal"],
        "supplier": ["s_acctbal"],
        "part": ["p_retailprice"],
        "events": ["value"],
    }
    for t, cols in table_cols.items():
        for c in cols:
            off = con.sql(
                f"SELECT count(*) FROM '{sf_dir}/{t}.parquet' "
                f"WHERE {c} != round({c}, 2)"
            ).fetchone()[0]
            assert off == 0, f"{t}.{c} is not on the 2dp grid"


# r17 (r16 verdict item 8): the q9/dsir half-boundary class made a
# registry-wide CONVENTION — "round on the exact representation,
# never the float image". This scan flags the landmine pattern
# round(CAST(sum(<decimal>) AS DOUBLE), k): the decimal sum is exact
# in both engines, but its nearest-double image can sit on an exact
# k-dp half where the two engines' double rounding diverges (the r16
# q9 replica find). The safe form is CAST(round(sum(...), k) AS
# DOUBLE). Integer sums cast to double are exact (within 2^53) and
# exempt; divisions/products are the standing float-class (order
# fuzz), not this pattern.
_FLOAT_IMAGE_RE = re.compile(
    r"^cast\s*\(\s*sum\s*\(.*\)\s*as\s+double\s*\)$"
    # the DataFrame-API spelling: F.round(F.sum(...).cast("double"), k)
    r"|^f\.sum\s*\(.*\)\s*\.cast\s*\(\s*"
    r"(?:[\"']double[\"']|doubletype\s*\(\s*\))\s*\)$",
    re.DOTALL,
)
PACKAGE_DIR = REPO / "hdsp_hive_release_src_spark"


def _float_image_sites(text: str) -> list[str]:
    out = []
    for site in round_sites(text):
        # strip the rounding-digits argument (top-level ", k")
        expr = re.sub(r",\s*\d+\s*$", "", site)
        low = " ".join(expr.lower().split())
        # an integer sum is exact under the double cast
        int_sum = re.search(r"as\s+(big)?int|cast\(\s*[\"'](big)?int", low)
        if _FLOAT_IMAGE_RE.match(low) and not int_sum:
            out.append(low[:160])
    return out


def float_image_rounds(src_dir: Path = PACKAGE_DIR) -> dict[str, list[str]]:
    """Float-image round sites in every oracle (keyed by query name)
    AND in every engine source under ``src_dir``, subpackages included
    (keyed by path): a compliant oracle does not make a non-compliant
    implementation safe — either side alone diverges at a
    half-boundary."""
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    hits: dict[str, list[str]] = {}
    for name, sql in registry.ORACLES.items():
        if sites := _float_image_sites(sql):
            hits[name] = sites
    for path in sorted(src_dir.rglob("*.py")):
        if sites := _float_image_sites(path.read_text()):
            hits[f"{src_dir.name}/{path.relative_to(src_dir)}"] = sites
    return hits


def static_inventory() -> dict[str, dict]:
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    inv: dict[str, dict] = {}
    for name, sql in registry.ORACLES.items():
        sites = round_sites(sql)
        if not sites:
            continue
        classes = [classify(s) for s in sites]
        inv[name] = {
            "sites": [
                {"expr": s[:160], "class": c}
                for s, c in zip(sites, classes)
            ],
            "query_class": (
                "float" if "float" in classes else
                "int" if set(classes) == {"int"} else "grid"
            ),
        }
    return inv


# DuckDB output types whose pandas (`.df()`) rendering diverges from
# the Spark `.toPandas()` rendering of the matching Spark type — the
# exact mechanism of the r7 red row (HUGEINT -> float64 vs int64).
# DECIMAL is included: DuckDB .df() renders it float64 while Spark
# renders DecimalType as object(decimal.Decimal).
_DRIFT_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def dtype_drift_scan(sf_dir: str) -> dict[str, list[str]]:
    """DESCRIBE every oracle in DuckDB (plans, does not execute) and
    flag output columns whose declared type lands in pandas with a
    dtype Spark would not produce. Any hit is a driver hash-fail
    waiting to happen — fix the oracle with an explicit CAST."""
    import duckdb

    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    hits: dict[str, list[str]] = {}
    for name, sql in registry.ORACLES.items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as ex:  # noqa: BLE001 - recorded, not fatal
            hits[name] = [f"DESCRIBE error: {str(ex)[:120]}"]
            continue
        bad = [
            f"{col}:{typ}"
            for col, typ, *_ in desc
            if any(typ.upper().startswith(t) for t in _DRIFT_TYPES)
        ]
        if bad:
            hits[name] = bad
    return hits


def order_fuzz(spark, names: list[str], sf_dir: str) -> dict[str, str]:
    """Run each query under two materially different partitionings and
    require canonically identical output. The session's own values of
    the two varied settings are restored after each query."""
    import __spark_entry__ as e
    from tools.check_oracle import canon_pdf

    qs = e.queries()
    results: dict[str, str] = {}
    variants = [
        {"spark.sql.shuffle.partitions": "3",
         "spark.sql.files.maxPartitionBytes": "262144"},
        {"spark.sql.shuffle.partitions": "32",
         "spark.sql.files.maxPartitionBytes": "134217728"},
    ]
    saved = {k: spark.conf.get(k, None) for k in variants[0]}
    for name in names:
        outs = []
        try:
            for v in variants:
                for k, val in v.items():
                    spark.conf.set(k, val)
                df = qs[name](spark, sf_dir)
                outs.append(canon_pdf(df.toPandas()))
            results[name] = (
                "stable" if outs[0] == outs[1] else "UNSTABLE"
            )
        except Exception as ex:  # noqa: BLE001 - recorded, not fatal
            results[name] = f"error: {str(ex)[:200]}"
        finally:
            for k, val in saved.items():
                if val is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, val)
        print(f"  fuzz {name}: {results[name]}", file=sys.stderr)
    return results


# Queries whose OUTPUT is layout-sensitive BY DESIGN under different
# write/partition configs (file-count reports, TABLESAMPLE partition
# membership). The driver runs one fixed session config, so these are
# driver-stable; the fuzz (which varies exactly that config) is the
# wrong instrument for them. Each entry must say why.
LAYOUT_SENSITIVE = {
    "compact_small_files": "reports file counts; write fan-out "
        "follows shuffle partition count by design",
    "table_sample_percent_rows": "TABLESAMPLE membership is "
        "partition-layout-dependent (documented; statistical-fraction "
        "oracle)",
    "table_sample_bucket": "same TABLESAMPLE layout dependence",
    "analyze_table_stats": "reports table file/size statistics that "
        "follow the write fan-out",
    "observed_load_metrics": "observe() metrics include partition-"
        "level counts",
    "metadata_columns": "_metadata file names/sizes follow write "
        "fan-out",
    "parquet_compression_codecs": "file sizes per codec follow write "
        "fan-out",
}


def audit(spark, sf_dir: str, fuzz_all: bool) -> tuple[dict, list[str]]:
    """The whole audit on ``spark``: writes tools/ROUNDING_AUDIT.json
    and returns (that record, names whose fuzz was not stable)."""
    verify_grid_cols(sf_dir)
    inv = static_inventory()
    float_qs = sorted(
        n for n, d in inv.items() if d["query_class"] == "float"
    )
    if fuzz_all:
        from hdsp_hive_release_src_spark import registry

        registry.load_all()
        fuzz_set = sorted(registry.QUERIES)
        for n in fuzz_set:
            inv.setdefault(n, {"sites": [], "query_class": "none"})
    else:
        fuzz_set = float_qs
    fuzz_set = [n for n in fuzz_set if n not in LAYOUT_SENSITIVE]
    print(
        f"{len(inv)} queries inventoried; {len(float_qs)} float-class; "
        f"fuzzing {len(fuzz_set)}", file=sys.stderr,
    )
    drift = dtype_drift_scan(sf_dir)
    print(f"dtype drift scan: {drift or 'clean'}", file=sys.stderr)
    fi = float_image_rounds()
    print(f"float-image rounds: {fi or 'clean'}", file=sys.stderr)
    fuzz = order_fuzz(spark, fuzz_set, sf_dir)
    for n, r in fuzz.items():
        inv[n]["fuzz"] = r
    for n, why in LAYOUT_SENSITIVE.items():
        if n in inv:
            inv[n]["fuzz"] = f"layout-sensitive: {why}"
    out = {
        "sf_dir": sf_dir,
        "fuzzed_all": fuzz_all,
        "n_queries_with_round": len(
            [d for d in inv.values() if d["sites"]]
        ),
        "float_class": float_qs,
        "dtype_drift": drift,
        "float_image_rounds": fi,
        "inventory": inv,
    }
    path = REPO / "tools" / "ROUNDING_AUDIT.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True))
    bad = [n for n, r in fuzz.items() if r != "stable"]
    print(f"wrote {path}; unstable/error: {bad}", file=sys.stderr)
    return out, bad


def main() -> None:
    from hdsp_hive_release_src_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark(shuffle_partitions=8)
    out, bad = audit(spark, sf_dir, "--all" in sys.argv)
    sys.exit(1 if bad or out["dtype_drift"] else 0)


if __name__ == "__main__":
    main()

"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB against the same sf dir, then compares row count, sorted column
names, and order-insensitive values (doubles rounded to 6 before
hashing).

Both result sets are canonicalized THROUGH PANDAS — Spark via
``df.toPandas()`` and DuckDB via ``res.df()`` — because that is the
driver's path. The r7 red row (``boilerplate_position_bias``) slipped
through precisely because this script used ``fetchall()``, which yields
Python ints for DuckDB HUGEINT while the driver's ``.df()`` path yields
float64; any dtype coercion that diverges between the two engines'
pandas renderings must FAIL here before it burns a driver row.

Usage::

    python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import datetime as _dt
import os
import sys
import time

import duckdb
import numpy as np

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_cell(v):
    """Normalize one pandas cell to a stable repr string.

    Deliberately preserves dtype distinctions the driver would see:
    float64 103.0 and int64 103 repr differently, NaN and None repr
    differently — those ARE the defect classes this gate exists to
    catch. Only containers are canonicalized (ndarray -> list) so that
    equal values in equal dtypes compare equal regardless of which
    engine produced the container.
    """
    if isinstance(v, np.ndarray):
        v = v.tolist()
    # Container rule for binary: Spark toPandas renders BinaryType as
    # bytearray, DuckDB .df() as bytes — same value, different repr.
    if isinstance(v, bytearray):
        v = bytes(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(
                f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())
            )
            + "}"
        )
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    # Datetime normalization: Spark renders DATE as object
    # datetime.date while DuckDB .df() renders it datetime64 midnight
    # Timestamp — the driver provably treats these as equal (DATE
    # output columns in date_builtins_extended/_wave3 are driver-green
    # since r1/r5), so canonicalize both to one ISO form. Int/float
    # stay strict (HUGEINT float64 vs int64 IS a driver fail).
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return f"{v.isoformat()}T00:00:00"
    if isinstance(v, _dt.datetime):
        return v.isoformat()  # pd.NaT -> 'NaT'
    if isinstance(v, float):
        if v != v:
            return "NaN"
        v = round(v, 6)
        if v == -0.0:
            v = 0.0
    return repr(v)


def canon_pdf(pdf):
    """Canonicalize a pandas frame: columns sorted by name, each row a
    '|'-joined repr string, rows sorted (order-insensitive)."""
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append("|".join(_norm_cell(v) for v in row))
    out.sort()
    return out


def check(spark, sf_dir: str, names=None) -> dict[str, tuple[str, str]]:
    """{name: (status, detail)} in registry order for every registered
    query, or only ``names`` when given. status is PASS, FAIL or rows
    (no oracle: a rows-only check)."""
    import __spark_entry__ as e

    out: dict[str, tuple[str, str]] = {}
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; Spark-written dirs
        # (e.g. the 10x stress replica) need the part-file glob —
        # Spark reads both shapes natively, DuckDB only globs dirs
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    qs, oracles = e.queries(), e.oracle_sql()
    for name, fn in qs.items():
        if names and name not in names:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spdf = df.toPandas()
        except Exception as ex:
            out[name] = ("FAIL", f"spark error: {ex}")
            continue
        if name not in oracles:
            out[name] = ("rows", f"{len(spdf)} rows (rows-only check) "
                                 f"[{time.time()-t0:.1f}s]")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as ex:
            out[name] = ("FAIL", f"duckdb error: {ex}")
            continue
        scols, dcols = list(spdf.columns), list(dpdf.columns)
        if sorted(scols) != sorted(dcols):
            out[name] = ("FAIL", f"cols spark={sorted(scols)} "
                                 f"duck={sorted(dcols)}")
        elif len(spdf) != len(dpdf):
            out[name] = ("FAIL", f"rowcount spark={len(spdf)} "
                                 f"duck={len(dpdf)}")
        elif (cs := canon_pdf(spdf)) != (cd := canon_pdf(dpdf)):
            diff = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
            out[name] = ("FAIL", f"value mismatch, first diffs: {diff}")
        else:
            out[name] = ("PASS", f"{len(spdf)} rows "
                                 f"[{time.time()-t0:.1f}s]")
    con.close()
    return out


def main():
    from hdsp_hive_release_src_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    verdicts = check(get_spark(shuffle_partitions=8), sf_dir, sys.argv[2:])
    for name, (status, detail) in verdicts.items():
        print(f"{status} {name}: {detail}")
    n = [st for st, _ in verdicts.values()]
    print(f"\n{n.count('PASS')} pass, {n.count('FAIL')} fail, "
          f"{n.count('rows')} rows-only")
    sys.exit(1 if "FAIL" in n else 0)


if __name__ == "__main__":
    main()

"""Round-9 twenty-sixth-wave properties: Morton interleave replay and
the z-block locality guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _morton(a: int, b: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_zorder_blocks_match_python_morton(spark):
    from hdsp_hive_release_src_spark.queries.io_catalog.ddl import (
        Z_BITS,
        Z_BLOCK_SHIFT,
    )

    rows = {
        r.zblock: r
        for r in registry.QUERIES["morton_zorder_clustering"](
            spark, SF
        ).collect()
    }
    assert rows
    pts = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            (F.col("l_partkey") % (1 << Z_BITS)).alias("pk"),
            (F.col("l_suppkey") % (1 << Z_BITS)).alias("sk"),
        )
        .distinct()
        .collect()
    )
    blocks: dict = {}
    for p in pts:
        zb = _morton(p.pk, p.sk, Z_BITS) >> Z_BLOCK_SHIFT
        blocks.setdefault(zb, []).append((p.pk, p.sk))
    assert set(rows) == set(blocks)
    full_area = (1 << Z_BITS) ** 2
    n_blocks = 1 << (2 * Z_BITS - Z_BLOCK_SHIFT)
    for zb, members in blocks.items():
        r = rows[zb]
        assert r.n_points == len(members)
        assert r.pk_min == min(m[0] for m in members)
        assert r.sk_max == max(m[1] for m in members)
        # the z-order locality guarantee: a z-block's bounding box
        # never exceeds 4x its fair share of the key plane (the worst
        # case of a quadrant-aligned Morton range)
        assert r.span_product <= 4 * full_area // n_blocks, (zb, r)


def test_zorder_interleave_matches_python_morton(spark):
    """Independent value replay (r14 spot-audit finding, same class as
    the skyline fix): zorder_interleave's SQL bit-interleave generator
    (_morton_bits) is shared verbatim between the Spark impl and the
    DuckDB oracle, so a generator bug would pass both engines. Replay
    zval from the raw parquet with this file's pure-Python Morton
    (note the bit convention: _morton_bits puts c on the ODD bits and
    d on the even ones, i.e. zval == _morton(d, c))."""
    import datetime as dt

    rows = registry.QUERIES["zorder_interleave"](spark, SF).collect()
    got = {r.o_orderkey: r.zval for r in rows}
    assert got

    src = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .collect()
    )
    epoch = dt.date(2023, 1, 1)
    want = {}
    for r in src:
        c = r.o_custkey & 65535
        od = r.o_orderdate
        d_days = ((od.date() if hasattr(od, "date") else od) - epoch).days
        d = d_days & 65535
        want[r.o_orderkey] = _morton(d, c, 16)
    assert got == want

"""Round-9 twenty-third-wave properties: regr_ identities vs exact
moment replay, misc-matrix pinned values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_regr_family_matches_exact_moment_replay(spark):
    from hdsp_hive_release_src_spark.queries.builtin_functions.numeric import (
        REGR_MOD,
    )

    row = registry.QUERIES["regr_full_family"](spark, SF).collect()[0]
    sample = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_orderkey") % REGR_MOD == 0)
        .select(
            F.col("l_quantity").cast("long").alias("x"),
            F.expr(
                "cast(round(l_extendedprice * 100) as bigint) div 100"
            ).alias("y"),
        )
        .collect()
    )
    n = len(sample)
    assert row.n == n
    sx = sum(r.x for r in sample)
    sy = sum(r.y for r in sample)
    sxx = sum(r.x * r.x for r in sample)
    syy = sum(r.y * r.y for r in sample)
    sxy = sum(r.x * r.y for r in sample)
    assert row.avgx == round(sx / n, 4)
    assert row.avgy == round(sy / n, 4)
    # centered moments: Sxx = Σx² − (Σx)²/n etc — exact ints before
    # the final division, so equality holds to the rounded digit
    assert row.sxx == round(sxx - sx * sx / n, 2)
    assert row.syy == round(syy - sy * sy / n, 2)
    assert row.sxy == round(sxy - sx * sy / n, 2)


def test_misc_matrix_pinned_values(spark):
    row = registry.QUERIES["string_bit_misc_matrix"](
        spark, SF
    ).collect()[0]
    import hashlib

    assert row.sha1_abc == hashlib.sha1(b"abc").hexdigest()
    import zlib

    assert row.crc32_abc == zlib.crc32(b"abc")
    assert (row.bit2_of_13, row.bit1_of_13) == (1, 0)  # 13 = 0b1101
    assert row.sru_neg8_60 == ((-8 + 2 ** 64) >> 60)  # == 15
    assert row.btrimmed == "hi"
    assert row.charlen_accented == 5  # codepoints, not bytes
    assert row.ceil_42 == 5
    assert row.ucased == "AB"
    assert row.jarr_len == 3
    assert row.jobj_keys == "a,b"
    assert row.map_has_key is True and row.map_lacks_key is False

"""Property-based tests (hypothesis) for the custom operators —
random inputs, invariants checked against independent Python models
(SURVEY.md §5). Few examples per property: each example round-trips
through Spark, so the budget goes to input diversity, not volume.
"""

from __future__ import annotations

from datetime import datetime, timezone

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

GAP_S = 1800


@st.composite
def event_times(draw):
    """Per-user lists of epoch-second offsets (may collide)."""
    n_users = draw(st.integers(1, 3))
    return {
        u: sorted(
            draw(
                st.lists(
                    st.integers(0, 10 * GAP_S), min_size=1, max_size=12
                )
            )
        )
        for u in range(n_users)
    }


def _model_sessions(times: list[int], gap_s: int = GAP_S) -> list[int]:
    """Reference implementation: 1-based session ids for sorted times."""
    out, sid = [], 0
    prev = None
    for t in times:
        if prev is None or t - prev > gap_s:
            sid += 1
        out.append(sid)
        prev = t
    return out


@SLOW
@given(event_times())
def test_sessionize_matches_model(spark, data):
    from hdsp_hive_release_src_spark.operators.sessionize import sessionize

    rows = [
        (u, i, datetime.fromtimestamp(t, tz=timezone.utc))
        for u, times in data.items()
        for i, t in enumerate(times)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize(df).collect()
    }
    for u, times in data.items():
        want = _model_sessions(times)
        # event_id follows the per-user sort order (ties broken by id,
        # and ids were assigned in sorted order)
        for i in range(len(times)):
            assert got[(u, i)] == want[i], (u, times, want, got)


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 50)),
        min_size=1,
        max_size=30,
    ),
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 50)),
        min_size=1,
        max_size=30,
    ),
)
def test_salted_join_equals_plain_join(spark, left_rows, right_rows):
    from hdsp_hive_release_src_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, v) for k, v in left_rows], "k long, lv long"
    )
    right = spark.createDataFrame(
        [(k, v) for k, v in right_rows], "k long, rv long"
    )
    plain = sorted(
        map(tuple, left.join(right, "k").select("k", "lv", "rv").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_join(left, right, "k", n_salts=4, salt_src="lv")
            .select("k", "lv", "rv")
            .collect(),
        )
    )
    assert salted == plain


def test_salted_join_default_salt_spreads_hot_key(spark):
    """The default (whole-row) salt must put rows of ONE hot key into
    multiple salt buckets — hashing the key itself would give every row
    the same salt (zero spreading). Also checks result parity vs a
    plain join under the default salt."""
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.operators.skew import salted_join

    # one hot key (0) with 200 distinct payload rows + a few cold keys
    left = spark.createDataFrame(
        [(0, i) for i in range(200)] + [(k, 0) for k in range(1, 5)],
        "k long, lv long",
    )
    right = spark.createDataFrame([(k, k * 10) for k in range(5)], "k long, rv long")

    n_salts = 8
    salt_expr = F.pmod(F.xxhash64(F.col("k"), F.col("lv")), F.lit(n_salts))
    buckets = (
        left.where(F.col("k") == 0)
        .select(salt_expr.alias("s"))
        .distinct()
        .count()
    )
    assert buckets > 1, "hot key must land in more than one salt bucket"

    plain = sorted(
        map(tuple, left.join(right, "k").select("k", "lv", "rv").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_join(left, right, "k", n_salts=n_salts)
            .select("k", "lv", "rv")
            .collect(),
        )
    )
    assert salted == plain


@SLOW
@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=20),
    st.lists(st.integers(0, 1000), min_size=1, max_size=10),
)
def test_asof_join_matches_model(spark, left_ts, right_ts):
    """Backward as-of: each left row gets the latest right value with
    right_t <= left_t (inclusive), else null."""
    from hdsp_hive_release_src_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, datetime.fromtimestamp(t, tz=timezone.utc), i)
         for i, t in enumerate(left_ts)],
        "uid long, lt timestamp, lid long",
    )
    right = spark.createDataFrame(
        [(1, datetime.fromtimestamp(t, tz=timezone.utc), t)
         for t in sorted(set(right_ts))],
        "uid long, rt timestamp, rv long",
    )
    out = asof_join(
        left, right, "lt", "rt", "uid", "uid", ["rv"]
    ).collect()
    rts = sorted(set(right_ts))
    for r in out:
        lt = int(r.lt.replace(tzinfo=timezone.utc).timestamp())
        want = max((t for t in rts if t <= lt), default=None)
        assert r.rv_right == want, (lt, rts, r.rv_right, want)


@st.composite
def change_streams(draw):
    """Per-key ordered (ts, seq, op, val) change streams with dup ts."""
    n_keys = draw(st.integers(1, 4))
    out = []
    for k in range(n_keys):
        n = draw(st.integers(1, 8))
        for seq in range(n):
            out.append(
                (
                    k,
                    draw(st.integers(0, 5)),  # ts (collisions likely)
                    seq,
                    draw(st.sampled_from(["U", "U", "U", "D"])),
                    draw(st.integers(0, 99)),
                )
            )
    return out


def _model_cdc(rows):
    """Last-writer-wins by (ts, seq); drop keys whose final op is D."""
    final = {}
    for k, ts, seq, op, val in rows:
        cur = final.get(k)
        if cur is None or (ts, seq) > (cur[0], cur[1]):
            final[k] = (ts, seq, op, val)
    return sorted(
        (k, v[3]) for k, v in final.items() if v[2] != "D"
    )


@SLOW
@given(change_streams())
def test_cdc_last_writer_wins_matches_model(spark, rows):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "k long, ts long, seq long, op string, val long"
    )
    w = Window.partitionBy("k").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    got = sorted(
        map(
            tuple,
            df.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("k", "val")
            .collect(),
        )
    )
    assert got == _model_cdc(rows)


def _model_scd2(hist):
    """hist: sorted (ts, attr) per key → list of (attr, from, to|None)."""
    versions = []
    prev = None
    for ts, attr in hist:
        if prev is None or attr != prev:
            versions.append([attr, ts, None])
            prev = attr
    for i in range(len(versions) - 1):
        versions[i][2] = versions[i + 1][1]
    return [tuple(v) for v in versions]


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.sampled_from("ABC")),
        min_size=1,
        max_size=10,
        unique_by=lambda t: t[0],
    )
)
def test_scd2_intervals_match_model(spark, hist):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    hist = sorted(hist)
    df = spark.createDataFrame(
        [(1, ts, a) for ts, a in hist], "k long, ts long, attr string"
    )
    w = Window.partitionBy("k").orderBy("ts")
    changes = df.withColumn("prev", F.lag("attr").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("attr"))
    )
    out = changes.select(
        "attr",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    got = sorted(map(tuple, out.collect()), key=lambda r: r[1])
    assert got == _model_scd2(hist)


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.floats(-10, 10)),
        min_size=2,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
def test_time_weighted_avg_matches_model(spark, samples):
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    samples = sorted(samples)
    num = sum(
        v * (samples[i + 1][0] - t)
        for i, (t, v) in enumerate(samples[:-1])
    )
    den = samples[-1][0] - samples[0][0]
    df = spark.createDataFrame(
        [(1, t, v) for t, v in samples], "k long, ts long, v double"
    )
    w = Window.partitionBy("k").orderBy("ts")
    s = df.select(
        "k", "v", (F.lead("ts").over(w) - F.col("ts")).alias("dur")
    ).where(F.col("dur").isNotNull() & (F.col("dur") > 0))
    got = s.groupBy("k").agg(
        (F.sum(F.col("v") * F.col("dur")) / F.sum("dur")).alias("twa")
    ).collect()
    if den > 0:
        assert math.isclose(got[0]["twa"], num / den, rel_tol=1e-9)
    else:
        assert not got


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),  # value (dups!)
            st.integers(min_value=0, max_value=10**6),  # id
        ),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[1],
    ),
    st.integers(min_value=2, max_value=9),
)
def test_exact_ntile_equals_sql_ntile(spark, rows, k):
    """Distributed exact_ntile ≡ SQL ntile on random data with heavy
    value duplication, random bucket counts, and tiny range counts
    (forces multi-row ranges and rank-offset arithmetic)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.operators.ranking import exact_ntile

    df = spark.createDataFrame(
        [(i, float(v)) for v, i in rows], "id long, v double"
    )
    got = {
        r.id: r.bucket
        for r in exact_ntile(
            df, "v", ["id"], n_buckets=k, n_ranges=4
        ).collect()
    }
    w = Window.orderBy(F.asc("v"), F.asc("id"))
    want = {
        r.id: r.nt
        for r in df.select(
            "id", F.ntile(k).over(w).cast("long").alias("nt")
        ).collect()
    }
    assert got == want


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # group key
            st.integers(min_value=0, max_value=50),  # member
        ),
        min_size=0,
        max_size=80,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_bounded_postings_equals_model(spark, pairs, max_df):
    """bounded_sorted_postings ≡ a Python dict model: per-key sorted
    member list, kept only when 2 ≤ group size ≤ max_df (group size
    counts DUPLICATE members too — the filter applies to row counts,
    not distinct members)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.operators.jaccard import (
        bounded_sorted_postings,
    )

    model = defaultdict(list)
    for k, m in pairs:
        model[k].append(m)
    want = {
        k: sorted(v)
        for k, v in model.items()
        if 2 <= len(v) <= max_df
    }
    df = spark.createDataFrame(
        pairs or [(0, 0)], "k long, m long"
    )
    if not pairs:
        df = df.where(F.lit(False))
    got = {
        r.k: list(r.ds)
        for r in bounded_sorted_postings(
            df, ["k"], F.col("m"), min_df=2, max_df=max_df
        ).collect()
    }
    assert got == want


@SLOW
@given(
    st.integers(min_value=0, max_value=65535),
    st.integers(min_value=0, max_value=65535),
)
def test_morton_interleave_roundtrip(spark, c, d):
    """The Morton code must deinterleave back to exactly (c, d) —
    bijectivity is what makes z-ordering a valid layout key."""
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.queries.io_catalog.ddl import _morton_bits

    df = spark.createDataFrame([(c, d)], "c long, d long")
    z = df.select(F.expr(_morton_bits("c", "d")).alias("z"))
    back_c = " + ".join(
        f"(((z >> {2 * i + 1}) & 1) << {i})" for i in range(16)
    )
    back_d = " + ".join(
        f"(((z >> {2 * i}) & 1) << {i})" for i in range(16)
    )
    row = z.select(
        F.expr(back_c).alias("c"), F.expr(back_d).alias("d")
    ).collect()[0]
    assert (row.c, row.d) == (c, d)


@SLOW
@given(
    st.lists(
        st.tuples(
            st.one_of(
                st.none(), st.integers(min_value=-50, max_value=50)
            ),  # nullable value (dups + the dedicated null range)
            st.integers(min_value=0, max_value=10**6),  # id
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[1],
    ),
    st.booleans(),
)
def test_with_global_rank_null_order_matches_sql(spark, rows, desc):
    """with_global_rank's dedicated NULL range (asc → NULLS FIRST,
    desc → NULLS LAST — the r6 guarantee) must replicate SQL
    row_number over the same order on random nullable data, both
    directions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.operators.ranking import (
        with_global_rank,
    )

    df = spark.createDataFrame(
        [(i, float(v) if v is not None else None) for v, i in rows],
        "id long, v double",
    )
    ranked, total = with_global_rank(
        df, "v", ["id"], descending=desc, n_ranges=4, rank_col="rnk"
    )
    got = {r.id: r.rnk for r in ranked.collect()}
    order = (
        [F.desc("v"), F.asc("id")] if desc else [F.asc("v"), F.asc("id")]
    )
    w = Window.orderBy(*order)
    want = {
        r.id: r.rn
        for r in df.select(
            "id", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert total == len(rows)
    assert got == want


@SLOW
@given(
    st.lists(
        st.tuples(
            st.one_of(
                st.none(), st.integers(min_value=-20, max_value=20)
            ),  # nullable order value
            st.integers(min_value=0, max_value=10**6),  # id
            st.integers(min_value=-100, max_value=100),  # summand
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[1],
    )
)
def test_range_prefix_sum_matches_sql_running_sum(spark, rows):
    """range_prefix_sum ≡ sum() OVER (ORDER BY v, id ROWS UNBOUNDED
    PRECEDING) on random nullable data — the null order values land
    in the dedicated first range (Spark asc = NULLS FIRST), exactly
    like the global window it replaces."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.operators.ranking import (
        range_prefix_sum,
    )

    df = spark.createDataFrame(
        [
            (i, float(v) if v is not None else None, s)
            for v, i, s in rows
        ],
        "id long, v double, x long",
    )
    got = {
        r.id: r.cum_x
        for r in range_prefix_sum(
            df, "v", ["id"], ["x"], n_ranges=4
        ).collect()
    }
    w = (
        Window.orderBy(F.asc("v"), F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r.id: r.cs
        for r in df.select(
            "id", F.sum("x").over(w).cast("long").alias("cs")
        ).collect()
    }
    assert got == want

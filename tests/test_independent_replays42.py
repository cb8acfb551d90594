"""Independent-model replays, batch 42 (round 12): the last
property-tested-only data-math queries — ABC/Pareto classification,
positional boilerplate bias, and the DAG longest-path layering —
recomputed in pandas/dict/DP models."""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def test_abc_pareto_matches_pandas_cumshare(spark):
    from hdsp_hive_release_src_spark.queries.olap import (
        ABC_A_PERMILLE,
        ABC_B_PERMILLE,
    )

    registry.load_all()
    rows = registry.QUERIES["abc_pareto_class"](spark, SF).collect()
    li = _tbl("lineitem")
    li["cents"] = (li.l_extendedprice * 100).round().astype("int64")
    per = li.groupby("l_partkey").cents.sum()
    ordered = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = int(per.sum())
    agg: dict[str, list[int]] = {}
    crev = 0
    for _, rev in ordered:
        crev += int(rev)
        share = crev * 1000 // tot
        cls = (
            "A"
            if share <= ABC_A_PERMILLE
            else "B"
            if share <= ABC_B_PERMILLE
            else "C"
        )
        cur = agg.setdefault(cls, [0, 0])
        cur[0] += 1
        cur[1] += int(rev)
    want = {
        c: (n, r, r * 1000 // tot) for c, (n, r) in agg.items()
    }
    got = {
        r.abc_class: (r.n_parts, r.revenue_cents, r.share_permille)
        for r in rows
    }
    assert got == want


def test_boilerplate_bias_matches_dict_positions(spark):
    from hdsp_hive_release_src_spark.queries.text.quality import (
        _BP_HEAD,
        _BP_MIN_TOTAL,
    )

    registry.load_all()
    rows = registry.QUERIES["boilerplate_position_bias"](
        spark, SF
    ).collect()
    d = _tbl("documents")
    total: Counter = Counter()
    head: Counter = Counter()
    for text in d.text:
        for pos, tok in enumerate(text.split(" ")):
            total[tok] += 1
            if pos < _BP_HEAD:
                head[tok] += 1
    all_total = sum(total.values())
    all_head = sum(head.values())
    want = sorted(
        (
            (
                tok,
                n,
                head.get(tok, 0),
                head.get(tok, 0) * all_total * 1000 // (n * all_head),
            )
            for tok, n in total.items()
            if n >= _BP_MIN_TOTAL
        ),
        key=lambda t: (-t[3], t[0]),
    )
    got = [
        (r.token, r.n_total, r.n_head, r.head_bias_permille)
        for r in rows
    ]
    assert got == want


def test_topo_layers_match_python_dp(spark):
    """Longest-path layering recomputed by increasing-key DP (every
    edge n -> 2n/3n strictly increases the key, so ascending order IS
    a topological order) — independent of the impl's fixed-round
    frontier propagation."""
    from hdsp_hive_release_src_spark.queries.graph import _TOPO_MAX_KEY

    registry.load_all()
    rows = registry.QUERIES["topo_sort_layers"](spark, SF).collect()
    p = _tbl("part")
    nodes = sorted(
        int(k)
        for k in p.p_partkey.unique()
        if 1 <= k <= _TOPO_MAX_KEY
    )
    nodeset = set(nodes)
    layer = {}
    for n in nodes:
        best = 0
        if n % 2 == 0 and n // 2 in nodeset:
            best = max(best, layer[n // 2] + 1)
        if n % 3 == 0 and n // 3 in nodeset:
            best = max(best, layer[n // 3] + 1)
        layer[n] = best
    got = [(r.node, r.layer) for r in rows]
    assert got == sorted(layer.items())

"""Independent-model replays, batch 17 (round 11): the training-data
packing/vocab pipeline (sequence packing bins, sliding-window chunk
hashes, vocab build + coverage audit), width_bucket's documented
formula, IGNORE NULLS window modifiers via direct carry/look-ahead
scans, str_to_map / stack round-trips, and format_number vs Python's
own thousands grouping."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"
TOL6 = 6e-7
TOL2 = 6e-3


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def test_sequence_packing_cumsum_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["sequence_packing"](spark, SF).collect()
    d = _tbl("documents").sort_values("doc_id")
    cells: dict = defaultdict(lambda: [0, 0])
    for src, g in d.groupby("source"):
        cum = 0
        for t in g.text:
            n = len(t.split(" "))
            bin_id = cum // 256  # where the doc's first token lands
            cells[(src, bin_id)][0] += 1
            cells[(src, bin_id)][1] += n
            cum += n
    got = {
        (r.source, r.bin_id): (r.n_docs, r.total_tokens) for r in rows
    }
    assert got == {k: tuple(v) for k, v in cells.items()}


def test_doc_chunk_overlap_hash_replay(spark):
    from hdsp_hive_release_src_spark.queries.text.dedup import CHUNK, STRIDE

    registry.load_all()
    rows = registry.QUERIES["doc_chunk_overlap"](spark, SF).collect()
    want = []
    d = _tbl("documents")
    for i, t in zip(d.doc_id, d.text):
        ws = t.split(" ")
        for off in range(0, max(len(ws), 1), STRIDE):
            chunk = ws[off : off + CHUNK]
            want.append(
                (
                    int(i),
                    off // STRIDE,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )
            )
    got = [
        (r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_hash) for r in rows
    ]
    assert sorted(got) == sorted(want)


def test_tokenizer_vocab_build_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["tokenizer_vocab_build"](spark, SF).collect()
    c: Counter = Counter()
    for t in _tbl("documents").text:
        c.update(t.split(" "))
    kept = sorted(
        ((w, n) for w, n in c.items() if n >= 5),
        key=lambda wn: (-wn[1], wn[0]),
    )
    assert [(r.token_id, r.word, r.freq) for r in rows] == [
        (i, w, n) for i, (w, n) in enumerate(kept)
    ]


def test_vocab_coverage_audit_replay(spark):
    registry.load_all()
    row = registry.QUERIES["vocab_coverage_audit"](spark, SF).collect()[0]
    c: Counter = Counter()
    for t in _tbl("documents").text:
        c.update(w for w in t.split(" ") if w)
    vocab = {
        w
        for w, _ in sorted(
            c.items(), key=lambda wn: (-wn[1], wn[0])
        )[:500]
    }
    total = sum(c.values())
    covered = sum(n for w, n in c.items() if w in vocab)
    assert (row.vocab_size, row.total_tokens, row.covered_tokens) == (
        500, total, covered,
    )
    assert abs(row.coverage - covered / total) <= TOL6
    assert abs(row.oov_rate - (1 - covered / total)) <= TOL6


def test_width_bucket_formula_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["width_bucket_binning"](spark, SF).collect()
    lo, hi, nb = 900.0, 105000.0, 16
    cells: dict = defaultdict(list)
    for v in _tbl("lineitem").l_extendedprice:
        v = float(v)
        b = (
            0
            if v < lo
            else nb + 1
            if v >= hi
            else int((v - lo) // ((hi - lo) / nb)) + 1
        )
        cells[b].append(v)
    assert {r.bucket for r in rows} == set(cells)
    for r in rows:
        vs = cells[r.bucket]
        assert r.n == len(vs)
        assert abs(r.lo_price - min(vs)) <= TOL2
        assert abs(r.hi_price - max(vs)) <= TOL2


def test_window_ignore_nulls_direct_scan_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["window_ignore_nulls"](spark, SF).collect()
    ev = _tbl("events")
    ev["ts"] = pd.to_datetime(ev.ts).dt.floor("us")
    ev = ev[ev.user_id < 20].sort_values(["user_id", "ts", "event_id"])
    want = {}
    for _, g in ev.groupby("user_id"):
        pvs = [
            math.floor(float(v) * 100 + 0.5) / 100
            if t == "purchase"
            else None
            for t, v in zip(g.event_type, g.value)
        ]
        eids = g.event_id.astype(int).tolist()
        n = len(eids)
        for i in range(n):
            last = next(
                (pvs[j] for j in range(i, -1, -1) if pvs[j] is not None),
                None,
            )
            nxt = next(
                (pvs[j] for j in range(i + 1, n) if pvs[j] is not None),
                None,
            )
            want[eids[i]] = (last, nxt)
    assert len(rows) == len(want)
    for r in rows:
        last, nxt = want[r.event_id]
        for got, w in ((r.last_purchase, last), (r.next_purchase, nxt)):
            if w is None:
                assert got is None
            else:
                assert abs(got - w) <= TOL2


def test_mapinarrow_bytes_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["mapinarrow_bytes"](spark, SF).collect()
    d = _tbl("documents")
    texts = {int(i): t for i, t in zip(d.doc_id, d.text) if i < 300}
    assert len(rows) == len(texts)
    for r in rows:
        t = texts[r.doc_id]
        assert r.n_bytes == len(t.encode())
        assert r.n_words == len(t.split(" "))
        assert r.first_byte == t.encode()[0]


def test_str_to_map_roundtrip_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["str_to_map_parse"](spark, SF).collect()
    o = _tbl("orders")
    src = {
        int(k): (p, s)
        for k, p, s in zip(
            o.o_orderkey, o.o_orderpriority, o.o_orderstatus
        )
        if k < 500
    }
    assert len(rows) == len(src)
    for r in rows:
        # build + parse in Python: the round trip must be lossless
        packed = f"prio:{src[r.o_orderkey][0]},stat:{src[r.o_orderkey][1]}"
        m = dict(kv.split(":", 1) for kv in packed.split(","))
        assert (r.prio_rt, r.stat_rt, r.n_keys) == (
            m["prio"], m["stat"], len(m),
        )


def test_stack_unpivot_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["stack_unpivot_funcs"](spark, SF).collect()
    p = _tbl("part")
    want = []
    for k, sz, pr in zip(p.p_partkey, p.p_size, p.p_retailprice):
        if k < 150:
            want.append((int(k), "price", math.floor(pr * 100 + 0.5) / 100))
            want.append((int(k), "size", float(sz)))
    got = [(r.p_partkey, r.metric, r.val) for r in rows]
    assert sorted(got) == sorted(want)


def test_format_number_vs_python_grouping(spark):
    registry.load_all()
    rows = registry.QUERIES["format_number_grouped"](spark, SF).collect()
    o = _tbl("orders")
    o = o[o.o_orderkey < 500]
    for r in rows:
        g = o[o.o_orderpriority == r.o_orderpriority]
        cents = int(
            max(math.floor(v * 100 + 0.5) for v in g.o_totalprice)
        )
        assert r.n == len(g)
        assert r.max_price_fmt == f"{cents // 100:,}.{cents % 100:02d}"

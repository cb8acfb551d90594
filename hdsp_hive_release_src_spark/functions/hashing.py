"""Shingling, MinHash, and LSH banding expressions.

Two Catalyst pitfalls shape this module (both cost real bench time):

1. **Projection collapse re-inlines expensive exprs.** A column defined
   in one select and used k times in the next gets substituted k times
   (CollapseProject), so ``split(text)`` ran ~450× per doc and a
   MinHash over a shingle column would recompute the shingle array 64×.
   Fix: *lambda-bind* the sub-expression —
   ``element_at(transform(array(<expr>), x -> <body using x>), 1)``
   evaluates ``<expr>`` exactly once per row and the binding survives
   every optimizer rewrite. Builders here compose as SQL strings so
   shingles→signature→bands is ONE expression with nested bindings.
   (Measured on the sf0.1 dedup bench: 24s → ~3s.)

2. **Python-lambda HOFs alias across seeds.** ``F.transform(c, lambda
   s: xxhash64(s, lit(i)))`` built in a loop collapses all i-variants
   into one expression — every signature slot identical, which broke
   LSH recall. Seeds must live in the SQL text.

MinHash/SimHash values are engine-hash-defined (xxhash64) — queries on
them verify candidates with exact measures (Jaccard / hamming), so a
hash-family change can only affect recall, never emit false positives.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Prime modulus of the pairwise-independent integer hash families
#: h(x) = ((a * x + b) mod P) mod W shared by the count-min, Bloom, KMV
#: and stratified-ATE queries. P = 2^31 - 1 keeps a * x inside int64
#: for any x < 2^31, so BOTH engines compute the identical exact
#: integer — the property that makes those sketches oracle-hashable
#: (an md5/xxhash bucket map would differ or need engine-specific hex
#: plumbing).
CMS_P = 2_147_483_647


def bind_once(expr_sql: str, var: str, body_sql: str) -> str:
    """SQL for: evaluate ``expr_sql`` once, bind as ``var`` in body."""
    return f"element_at(transform(array({expr_sql}), {var} -> {body_sql}), 1)"


def word_shingles_sql(text_col: str, n: int = 3) -> str:
    """Distinct word n-gram shingles; the token array is split once
    (lambda-bound). Guarded: sequence(0, k) with k<0 is *descending* in
    Spark, so size < n short-circuits to array()."""
    gram = "concat_ws(' ', " + ", ".join(f"w[i + {j}]" for j in range(n)) + ")"
    body = (
        f"CASE WHEN size(w) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(0, size(w) - {n}), "
        f"i -> {gram})) END"
    )
    return bind_once(f"split({text_col}, ' ')", "w", body)


def minhash_sql(shingles_sql: str, k: int = 64) -> str:
    """K-seed MinHash signature over a shingle-array expression
    (evaluated once)."""
    slots = ", ".join(
        f"array_min(transform(sh, s -> xxhash64(s, {i})))" for i in range(k)
    )
    return bind_once(shingles_sql, "sh", f"array({slots})")


def band_hashes_sql(signature_sql: str, bands: int, rows: int) -> str:
    """LSH banding over a signature expression (evaluated once): hash of
    each contiguous ``rows``-slice."""
    slots = ", ".join(
        f"hash(slice(sig, {b * rows + 1}, {rows}))" for b in range(bands)
    )
    return bind_once(signature_sql, "sig", f"array({slots})")


# -- Column-API conveniences -------------------------------------------

def word_shingles(text_col: str, n: int = 3) -> Column:
    return F.expr(word_shingles_sql(text_col, n))


def shingles_from_words(words_col: str, n: int = 3) -> Column:
    """Shingles from an already-split token array column."""
    gram = (
        "concat_ws(' ', "
        + ", ".join(f"{words_col}[i + {j}]" for j in range(n))
        + ")"
    )
    return F.expr(
        f"CASE WHEN size({words_col}) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(0, size({words_col}) - {n}), "
        f"i -> {gram})) END"
    )


def minhash_signature(shingles_col: str, k: int = 64) -> Column:
    return F.expr(minhash_sql(shingles_col, k))


def band_hashes(signature: Column | str, bands: int, rows: int) -> Column:
    if isinstance(signature, str):
        return F.expr(band_hashes_sql(signature, bands, rows))
    return F.array(
        *[
            F.hash(F.slice(signature, b * rows + 1, rows))
            for b in range(bands)
        ]
    )

"""Text domain: quality filters, language ID and dataset splits.

Quality and repetition heuristics, entropy and readability filters,
language identification, PII redaction, distribution drift, importance
weights, deterministic splits and shards, and multimodal plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.functions.text import (
    LANG_STOPWORDS,
    WORD_TOKENS_SQL,
    sql_in_list,
    stopword_hits,
)
from hdsp_hive_release_src_spark.registry import query


# -------------------------------------------------------- text analysis

_EN = LANG_STOPWORDS["en"]


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           round(len(list_distinct(ws)) * 1.0 / len(ws), 6) AS distinct_ratio,
           round(len(list_filter(ws, t -> t IN ({sql_in_list(_EN)})))
                 * 1.0 / len(ws), 6) AS stopword_ratio,
           round(0.4 * (len(list_distinct(ws)) * 1.0 / len(ws))
                 + 0.3 * least(len(ws) / 100.0, 1.0)
                 + 0.3 * (1.0 - len(list_filter(ws,
                       t -> t IN ({sql_in_list(_EN)}))) * 1.0 / len(ws)),
                 6) AS quality_score
    FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
    ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: lexical diversity, length saturation,
    stopword density — all codegen expressions, int/int ratios (bit-
    identical across engines)."""
    d = Catalog(spark, sf_dir).documents
    ws = F.split("text", " ")
    n_tok = F.size(ws)
    distinct_ratio = F.size(F.array_distinct(ws)) * F.lit(1.0) / n_tok
    stop_ratio = (
        F.expr(stopword_hits("split(text, ' ')", _EN)) * F.lit(1.0) / n_tok
    )
    score = (
        0.4 * distinct_ratio
        + 0.3 * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
    )
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    ).orderBy("doc_id")


def _langid_case_sql(hit_exprs: dict[str, str]) -> str:
    best = f"greatest({', '.join(hit_exprs.values())})"
    whens = " ".join(
        f"WHEN {expr} = {best} THEN '{lang}'"
        for lang, expr in hit_exprs.items()
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} END"


@query(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           {_langid_case_sql({lang: f"len(list_filter(ws, t -> t IN ({sql_in_list(words)})))" for lang, words in LANG_STOPWORDS.items()})}
               AS lang_pred
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
    ORDER BY doc_id
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit heuristic language ID (argmax over 5 mini
    inventories, priority-ordered ties, 'und' when no hits)."""
    d = Catalog(spark, sf_dir).documents
    hit_exprs = {
        lang: stopword_hits("split(text, ' ')", words)
        for lang, words in LANG_STOPWORDS.items()
    }
    return d.select(
        "doc_id",
        "lang",
        F.expr(_langid_case_sql(hit_exprs)).alias("lang_pred"),
    ).orderBy("doc_id")


# ------------------------------------------------------ multimodal stub

@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, len(text) + 1),
                i -> ord(substring(text, i, 1)))) AS BIGINT) AS feat_sum
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: opaque binary payload + typed
    metadata, decoded feature-extraction via mapInPandas (Arrow
    batches).

    The payload here is the utf-8 encoding of `text` (the container has
    no image/audio libs — TESTDATA has no media column); the decode
    step is a deterministic stand-in (exact byte-sum 'feature' — an
    integer, so the oracle can replay it byte-for-byte via ord()) with
    the REAL structure: binary column in Arrow batches → per-batch
    vectorized numpy → typed feature columns out. Swapping the stand-in
    for PIL/librosa decode changes only the inner function.
    """
    import pandas as pd

    d = Catalog(spark, sf_dir).documents
    with_payload = d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length("text").cast("long").alias("declared_bytes"),
        ).alias("meta"),
    )

    def decode_batches(batches):
        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"]
            feat_sum = payloads.map(
                lambda b: int(
                    np.frombuffer(b, dtype=np.uint8).sum(dtype=np.int64)
                )
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["meta"].map(lambda m: m["mime"]),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "feat_sum": feat_sum.astype("int64"),
                }
            )

    out_schema = "doc_id long, mime string, n_bytes long, feat_sum long"
    return with_payload.mapInPandas(decode_batches, out_schema).orderBy(
        "doc_id"
    )


_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@query(
    "pii_redact",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             substring(text, 1, 40) || ' contact user' || doc_id ||
             '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents WHERE doc_id < 300)
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INTEGER)
               AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS INTEGER)
               AS n_phones
    FROM synth ORDER BY doc_id
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regexp redaction of emails/phones plus per-doc
    match counts (the audit column a compliance pipeline keeps). The
    corpus has no real PII, so a deterministic synthetic contact line
    is appended first — the redaction path itself is the product.
    Pure JVM regexp — at 100 TB this is a map-only stage, no shuffle."""
    d = Catalog(spark, sf_dir).documents
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return (
        d.where(F.col("doc_id") < 300)
        .select("doc_id", raw.alias("raw"))
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE,
                "<PHONE>",
            ).alias("redacted"),
            F.regexp_count("raw", F.lit(_EMAIL_RE)).alias("n_emails"),
            F.regexp_count("raw", F.lit(_PHONE_RE)).alias("n_phones"),
        )
        .orderBy("doc_id")
    )


@query(
    "length_shard_stats",
    oracle="""
    SELECT CAST(len(string_split(text, ' ')) // 16 AS BIGINT) AS len_bucket,
           doc_id % 8 AS shard,
           count(*) AS n_docs,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
    FROM documents
    GROUP BY len_bucket, shard ORDER BY len_bucket, shard
    """,
)
def length_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed sharding audit: token-length bucket × mod-8
    shard occupancy — the layout check before writing training shards
    (balanced shards, length-homogeneous batches). One shuffle on the
    tiny (bucket, shard) key space."""
    d = Catalog(spark, sf_dir).documents
    n_tok = F.size(F.split("text", " "))
    return (
        d.groupBy(
            F.floor(n_tok / 16).alias("len_bucket"),
            (F.col("doc_id") % 8).alias("shard"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(n_tok), 4).alias("avg_tokens"),
        )
        .orderBy("len_bucket", "shard")
    )


@query(
    "training_shard_manifest",
    oracle="""
    SELECT strpos('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 4
               AS shard_id,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS total_tokens,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents GROUP BY shard_id ORDER BY shard_id
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: shard = md5(doc_id)
    first hex nibble mod 4 — reproducible across engines, retries, and
    reruns (no rand()), uniform by hash. Map-only classify + one
    aggregation shuffle; the manifest (docs/tokens/source-mix per
    shard) is what an export job writes next to the data. NOTE the
    oracle replays the same nibble arithmetic: DuckDB strpos(..)-1
    equals Spark conv(hex,16,10), shifted by +1 consistently on both
    sides via %4 of the 1-based position ≡ (nibble+1) % 4."""
    d = Catalog(spark, sf_dir).documents
    nibble = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10
    ).cast("int")
    shard = (nibble + 1) % 4
    return (
        d.select(
            shard.alias("shard_id"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            "source",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy("shard_id")
    )


@query(
    "balanced_class_sample",
    oracle="""
    WITH r AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents),
    t AS (
      SELECT min(c) AS target FROM (
        SELECT count(*) AS c FROM documents GROUP BY lang))
    SELECT lang, count(*) AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS docid_sum
    FROM r, t WHERE rn <= target
    GROUP BY lang ORDER BY lang
    """,
)
def balanced_class_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-balanced downsampling: every language is cut
    to the size of the SMALLEST language class, selecting rows by a
    content-independent md5(doc_id) order (a seeded shuffle both
    engines reproduce exactly — the docid_sum pins the exact selected
    SET, not just the counts). One window pass per class partition plus
    a broadcast of the scalar target; at 100 TB the per-class
    row_number is the bounded state, never a global sort."""
    d = Catalog(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
    target = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("target"))
    )
    return (
        ranked.join(F.broadcast(target))
        .where(F.col("rn") <= F.col("target"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("docid_sum"),
        )
        .orderBy("lang")
    )


_REF_SOURCE = "src0"  # LM training shard

_DUCK_BIGRAMS = """
    toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws
      FROM documents),
    bigrams AS (
      SELECT doc_id, source, ws[i] AS w1, ws[i + 1] AS w2
      FROM toks, unnest(range(1, len(ws))) AS u(i))
"""


@query(
    "bigram_lm_score",
    oracle=f"""
    WITH {_DUCK_BIGRAMS},
    bg AS (
      SELECT w1, w2, count(*) AS c2 FROM bigrams
      WHERE source = '{_REF_SOURCE}' GROUP BY w1, w2),
    ug AS (
      SELECT w1, count(*) AS c1 FROM bigrams
      WHERE source = '{_REF_SOURCE}' GROUP BY w1),
    v AS (SELECT count(DISTINCT w2) AS vocab FROM bigrams
          WHERE source = '{_REF_SOURCE}'),
    scored AS (
      SELECT b.doc_id,
             ln((coalesce(bg.c2, 0) + 1.0)
                / (coalesce(ug.c1, 0) + vocab)) AS lp
      FROM bigrams b
      LEFT JOIN bg ON b.w1 = bg.w1 AND b.w2 = bg.w2
      LEFT JOIN ug ON b.w1 = ug.w1
      CROSS JOIN v
      WHERE b.source <> '{_REF_SOURCE}')
    SELECT doc_id, round(avg(lp), 6) AS avg_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM scored GROUP BY doc_id
    ORDER BY avg_logprob DESC, doc_id LIMIT 100
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL statistical LM quality scorer — not a stub: a bigram
    model with add-one smoothing is trained on the reference shard
    (src0) and every other doc is scored by its average bigram
    log-probability, the classic perplexity-based quality filter
    (docs unlike the reference distribution score low and get cut).
    The model tables are aggregation outputs (vocab-sized, broadcast
    into the scoring join); scoring is one pass over exploded bigrams.
    Fully deterministic → full oracle, top-100 by fluency."""
    d = Catalog(spark, sf_dir).documents
    ws = F.split("text", " ")
    bigrams = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                "zip_with(slice(split(text, ' '), 1, "
                "greatest(size(split(text, ' ')) - 1, 0)), "
                "slice(split(text, ' '), 2, "
                "greatest(size(split(text, ' ')) - 1, 0)), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("i", "bg"),
    ).select("doc_id", "source", "bg.w1", "bg.w2")
    # r12 scan-count fix: the three model tables (bigram counts,
    # unigram counts, vocab size) each re-ran the corpus explode;
    # checkpoint the shard-sized reference bigrams once — model build
    # is one scan, scoring the other
    ref = bigrams.where(
        F.col("source") == _REF_SOURCE
    ).localCheckpoint()
    bg = ref.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ug = ref.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = ref.agg(F.count_distinct("w2").alias("vocab"))
    scored = (
        bigrams.where(F.col("source") != _REF_SOURCE)
        .join(F.broadcast(bg), ["w1", "w2"], "left")
        .join(F.broadcast(ug), ["w1"], "left")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("vocab"))
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .orderBy(F.desc("avg_logprob"), "doc_id")
        .limit(100)
    )


@query(
    "kl_divergence_drift",
    oracle="""
    WITH wc AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents),
    per_source AS (
      SELECT source, w, count(*) AS c FROM wc GROUP BY source, w),
    source_tot AS (
      SELECT source, sum(c) AS tot FROM per_source GROUP BY source),
    corpus AS (
      SELECT w, sum(c) AS cc FROM per_source GROUP BY w),
    corpus_tot AS (SELECT sum(cc) AS ctot FROM corpus)
    SELECT p.source,
           round(sum((p.c * 1.0 / st.tot)
                 * ln((p.c * 1.0 / st.tot)
                      / (co.cc * 1.0 / ct.ctot))), 6) AS kl_nats,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM per_source p
    JOIN source_tot st ON p.source = st.source
    JOIN corpus co ON p.w = co.w
    CROSS JOIN corpus_tot ct
    GROUP BY p.source ORDER BY p.source
    """,
)
def kl_divergence_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift: KL divergence of each source's word
    distribution from the corpus-wide distribution — the per-shard
    drift score a mixture monitor alarms on (a source whose KL jumps
    changed its content). KL(p_source || p_corpus) is finite by
    construction (every source term exists in the corpus). Two
    aggregations over the exploded words + a broadcast of the
    (vocab-sized) corpus distribution."""
    d = Catalog(spark, sf_dir).documents
    wc = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    # r12 scan-count re-plan: corpus and corpus_tot derive from the
    # (source, word) count table and each re-executed the tokenize
    # pipeline (THREE corpus scans measured). Checkpointing the TF
    # table makes the query one corpus scan (the jsd twin got the
    # identical fix); values are unchanged, only lineage.
    per_source = (
        wc.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    w_tot = Window.partitionBy("source")
    # r13 subtree-sweep fix: `corpus` feeds both the broadcast into
    # the enriched join and the corpus total, so the vocab aggregate
    # over the (large) TF checkpoint executed twice. The corpus table
    # is vocab-sized — checkpoint it once; ctot reads the checkpoint.
    corpus = (
        per_source.groupBy("w")
        .agg(F.sum("c").alias("cc"))
        .localCheckpoint()
    )
    corpus_tot = corpus.agg(F.sum("cc").alias("ctot"))
    enriched = (
        per_source.withColumn("tot", F.sum("c").over(w_tot))
        .join(F.broadcast(corpus), "w")
        .join(F.broadcast(corpus_tot))
    )
    p = F.col("c") / F.col("tot")
    q = F.col("cc") / F.col("ctot")
    return (
        enriched.groupBy("source")
        .agg(
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .orderBy("source")
    )


@query(
    "repetition_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS ws
      FROM documents),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
             END AS gs
      FROM tok)
    SELECT doc_id,
           CAST(len(gs) AS BIGINT) AS n_grams,
           round(CASE WHEN len(gs) = 0 THEN 0.0
                 ELSE 1.0 - len(list_distinct(gs)) * 1.0 / len(gs)
                 END, 6) AS rep_ratio
    FROM grams
    ORDER BY doc_id
    """,
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: the fraction of word-trigrams that
    are duplicates of an earlier trigram in the SAME document
    (1 − distinct/total). Boilerplate spam and generation loops score
    high; clean prose scores near 0. Map-only — one projection per
    document, no shuffle except the presentation sort — so it runs at
    ingest speed on any corpus size (the Gopher repetition rule class,
    Rae et al. 2021 §A1.1)."""
    d = Catalog(spark, sf_dir).documents
    grams = F.expr(
        f"""CASE WHEN size({WORD_TOKENS_SQL}) < 3 THEN array()
        ELSE transform(sequence(0, size({WORD_TOKENS_SQL}) - 3),
             i -> concat_ws(' ', element_at({WORD_TOKENS_SQL}, i + 1),
                  element_at({WORD_TOKENS_SQL}, i + 2),
                  element_at({WORD_TOKENS_SQL}, i + 3)))
        END"""
    )
    g = d.select("doc_id", grams.alias("gs"))
    return g.select(
        "doc_id",
        F.size("gs").cast("long").alias("n_grams"),
        F.round(
            F.when(F.size("gs") == 0, F.lit(0.0)).otherwise(
                1.0
                - F.size(F.array_distinct("gs"))
                / F.size("gs").cast("double")
            ),
            6,
        ).alias("rep_ratio"),
    ).orderBy("doc_id")


@query(
    "gopher_quality_rules",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
                 AS n_words,
             CASE WHEN len(list_filter(string_split(text, ' '),
                          t -> t <> '')) = 0 THEN 0.0
                  ELSE list_sum(list_transform(
                         list_filter(string_split(text, ' '),
                                     t -> t <> ''),
                         t -> len(t))) * 1.0
                       / len(list_filter(string_split(text, ' '),
                                         t -> t <> ''))
             END AS mean_word_len,
             CASE WHEN len(text) = 0 THEN 0.0
                  ELSE (len(text) - len(regexp_replace(text,
                        '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / len(text)
             END AS symbol_ratio
      FROM documents),
    flags AS (
      SELECT doc_id,
             n_words BETWEEN 10 AND 10000 AS wc_ok,
             mean_word_len BETWEEN 2.0 AND 12.0 AS mwl_ok,
             symbol_ratio <= 0.30 AS sym_ok
      FROM m)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN wc_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_word_count,
           CAST(sum(CASE WHEN mwl_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_mean_word_len,
           CAST(sum(CASE WHEN sym_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_symbol_ratio,
           CAST(sum(CASE WHEN wc_ok AND mwl_ok AND sym_ok
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM flags
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-shape rule gate (the Gopher rules family):
    word-count bounds, mean-word-length bounds, and symbol-character
    ratio, reported as per-rule pass counts plus the conjunction. All
    three metrics are single-pass map expressions over each document —
    the gate costs one corpus scan regardless of rule count, which is
    why rule-based filtering is always the FIRST stage of a curation
    pipeline (it shrinks the corpus before anything quadratic or
    model-based runs)."""
    d = Catalog(spark, sf_dir).documents
    n_words = F.size(F.expr(WORD_TOKENS_SQL))
    sum_len = F.expr(
        f"aggregate({WORD_TOKENS_SQL}, 0L, (acc, t) -> acc + length(t))"
    )
    mean_wl = F.when(n_words == 0, F.lit(0.0)).otherwise(
        sum_len / n_words.cast("double")
    )
    stripped = F.regexp_replace("text", "[^a-zA-Z0-9 ]", "")
    sym_ratio = F.when(F.length("text") == 0, F.lit(0.0)).otherwise(
        (F.length("text") - F.length(stripped))
        / F.length("text").cast("double")
    )
    flags = d.select(
        n_words.between(10, 10000).alias("wc_ok"),
        mean_wl.between(2.0, 12.0).alias("mwl_ok"),
        (sym_ratio <= 0.30).alias("sym_ok"),
    )
    as_int = lambda c: F.sum(F.col(c).cast("int")).cast("long")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_int("wc_ok").alias("pass_word_count"),
        as_int("mwl_ok").alias("pass_mean_word_len"),
        as_int("sym_ok").alias("pass_symbol_ratio"),
        F.sum(
            (F.col("wc_ok") & F.col("mwl_ok") & F.col("sym_ok"))
            .cast("int")
        )
        .cast("long")
        .alias("pass_all"),
    )


def _dsir_oracle() -> str:
    """DSIR hashed-unigram importance weights, replayed exactly: token
    → md5-derived bucket in [0, 64), target = English docs, source =
    whole corpus, add-one smoothed log-ratio summed per doc.

    Cross-engine determinism (the r5 driver hash-flip fix): the
    per-token float sum is replaced by (1) exact integer (doc, bucket)
    counts, (2) the 64 bucket log-ratios quantized to 6 decimals (a
    1-ulp ``ln`` divergence between libm implementations cannot
    survive the quantization), (3) a per-doc fold over the
    bucket-sorted term list — identical doubles added in identical
    order are bit-identical in IEEE arithmetic. r16: the OUTPUT
    rounds to 6 decimals, not 4 — the true sum is an exact multiple
    of 1e-6 (integer counts × 6dp-grid ratios), so 6dp rounding
    recovers the grid point identically in both engines, while a 4dp
    round can land exactly on a half-boundary where the engines'
    rounding PRIMITIVES disagree on the same double (measured at
    sf0.1, doc 2074: fold = 0.057249999999999995; DuckDB's
    multiply-shift sees 572.5 exactly → 0.0573, Java BigDecimal sees
    the sub-boundary decimal → 0.0572)."""
    bucket = (
        "CAST(strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1"
        " AS BIGINT) * 4"
        " + CAST((strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)"
        " // 4 AS BIGINT)"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '),
             x -> x <> '')) AS t
      FROM documents),
    bk AS (SELECT doc_id, lang, {bucket} AS b FROM tok),
    tgt AS (SELECT b, count(*) AS c FROM bk WHERE lang = 'en'
            GROUP BY b),
    src AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
    tot AS (SELECT (SELECT sum(c) FROM tgt) AS tn,
                   (SELECT sum(c) FROM src) AS sn),
    ratio AS (
      SELECT s.b,
             round(ln(((coalesce(t.c, 0) + 1.0) / (tot.tn + 64))
                      / ((s.c + 1.0) / (tot.sn + 64))), 6) AS lr
      FROM src s LEFT JOIN tgt t ON s.b = t.b CROSS JOIN tot),
    cnt AS (SELECT doc_id, b, count(*) AS n FROM bk GROUP BY 1, 2)
    SELECT cnt.doc_id,
           CAST(sum(cnt.n) AS BIGINT) AS n_tokens,
           round(list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                              list(cnt.n * r.lr ORDER BY cnt.b)),
                 (acc, x) -> acc + x), 6) AS dsir_logweight
    FROM cnt JOIN ratio r ON cnt.b = r.b
    GROUP BY cnt.doc_id ORDER BY cnt.doc_id
    """


@query("dsir_importance_weights", oracle=_dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al.
    2023): per-document log importance weight under hashed-unigram
    bag-of-words models of target (English docs) vs source (whole
    corpus) — the weights a pipeline resamples by to tilt a raw crawl
    toward a target domain. Tokens hash into 64 md5-derived buckets
    (exactly reproducible in the oracle); both distributions are
    add-one smoothed. Scale shape: the 64-row ratio table is computed
    by one token-bucket aggregation each over target and source and
    then BROADCAST into the per-doc scoring join, so the corpus is
    scanned twice (model build, scoring) and never shuffled on doc
    tokens. Bucket hashing caps model memory at O(64) regardless of
    vocabulary size — the reason DSIR scales where an exact-vocab LM
    does not.

    Determinism (the r6 fix for the one red r5 driver row): exact
    (doc, bucket) integer counts → bucket log-ratios quantized to 6
    decimals (a 1-ulp libm ``ln`` divergence cannot survive the
    quantization) → per-doc weight as a bucket-sorted left fold with
    a 0.0 seed, mirrored term-for-term in the DuckDB twin — identical
    doubles added in identical order are bit-identical, so both
    engines round the SAME double. r16: the output round moved
    4dp → 6dp. The true sum is an exact 1e-6 grid multiple (integer
    counts × 6dp-grid ratios), so a 4dp round can land exactly on a
    half-boundary — where the engines' rounding PRIMITIVES disagree
    on the identical double (caught by the r16 sf0.1 parity
    spot-check, doc 2074: fold = 0.057249999999999995, DuckDB's
    multiply-shift round saw 572.5 exactly → 0.0573, Java BigDecimal
    saw the sub-boundary exact decimal → 0.0572). A 6dp round always
    targets the grid point itself, which both primitives recover
    identically."""
    d = Catalog(spark, sf_dir).documents
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.expr(WORD_TOKENS_SQL)).alias("t"),
    )
    bucket = (
        (
            F.expr("instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1")
        ).cast("long")
        * 4
        + (
            F.expr(
                "(instr('0123456789abcdef', substr(md5(t), 2, 1)) - 1)"
                " div 4"
            )
        ).cast("long")
    )
    bk = tok.select("doc_id", "lang", bucket.alias("b"))
    # r12 scan-count re-plan (was FIVE corpus scans: tgt, src, and
    # their two total aggregates each re-executed the tokenize
    # pipeline, plus the scoring pass). Both bucket models and both
    # totals are sums over the per-(doc, bucket) counts, so ONE
    # aggregation serves the whole model side; the 64-row stats table
    # is eagerly localCheckpoint-ed (the q11 idiom — Spark has no
    # plan-level sharing across the scalar-agg branch) so the totals
    # and ratio derive without touching the corpus again. Model build
    # = 1 scan, scoring = 1 scan — the "scanned twice" the docstring
    # always promised. All inputs to lr are the same exact integers
    # as before (tc of an en-absent bucket is 0 via the conditional
    # sum, exactly as the old left-join coalesce produced).
    cnt = bk.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = (
        cnt.groupBy("b")
        .agg(
            F.sum("n").alias("sc"),
            F.sum(
                F.when(F.col("lang") == "en", F.col("n")).otherwise(0)
            ).alias("tc"),
        )
        .localCheckpoint()
    )
    tots = stats.agg(
        F.sum("tc").alias("tn"), F.sum("sc").alias("sn")
    )
    ratio = stats.join(F.broadcast(tots)).select(
        "b",
        F.round(
            F.log(
                ((F.col("tc") + 1.0) / (F.col("tn") + 64))
                / ((F.col("sc") + 1.0) / (F.col("sn") + 64))
            ),
            6,
        ).alias("lr"),
    )
    return (
        cnt.join(F.broadcast(ratio), "b")
        .select(
            "doc_id",
            "n",
            F.struct(F.col("b"), (F.col("n") * F.col("lr")).alias("term"))
            .alias("bt"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("bt")),
                    F.lit(0.0),
                    lambda acc, x: acc + x["term"],
                ),
                6,
            ).alias("dsir_logweight"),
        )
        .orderBy("doc_id")
    )


@query(
    "char_entropy_filter",
    oracle="""
    WITH ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(text) + 1),
                    i -> substr(text, i, 1))) AS c
      FROM documents WHERE len(text) > 0),
    freq AS (
      SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
    tot AS (SELECT doc_id, sum(n) AS total FROM freq GROUP BY doc_id)
    SELECT freq.doc_id,
           CAST(tot.total AS BIGINT) AS n_chars,
           round(-sum((n * 1.0 / total) * log2(n * 1.0 / total)), 4)
               AS entropy
    FROM freq JOIN tot ON freq.doc_id = tot.doc_id
    GROUP BY freq.doc_id, tot.total
    ORDER BY freq.doc_id
    """,
)
def char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per document — the gibberish /
    base64-blob / key-dump detector (natural text sits ~4 bits/char;
    random alphanumerics ~6; single-char spam ~0). One explode to
    (doc, char) rows, one shuffle on that composite key for the
    frequency counts, then the entropy fold per doc. At 100 TB the
    char explode is the cost — production computes the same histogram
    inside one mapInPandas pass; the relational form here keeps the
    whole computation oracle-replayable."""
    d = Catalog(spark, sf_dir).documents.where(F.length("text") > 0)
    ch = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text)),"
                " i -> substr(text, i, 1))"
            )
        ).alias("c"),
    )
    freq = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    # r13 subtree-sweep fix: the per-doc total was a second aggregate
    # joined back, re-running the char explode. A doc-partitioned
    # window computes it in the same pass — no join, one scan.
    wdoc = Window.partitionBy("doc_id")
    freq = freq.withColumn("total", F.sum("n").over(wdoc))
    p = F.col("n") / F.col("total")
    return (
        freq
        .groupBy("doc_id", "total")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 4).alias("entropy")
        )
        .select(
            "doc_id",
            F.col("total").cast("long").alias("n_chars"),
            "entropy",
        )
        .orderBy("doc_id")
    )


@query(
    "stratified_eval_split",
    oracle="""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                       < 13 THEN 'train'
                  WHEN strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                       < 14 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT lang, split, count(*) AS n
    FROM assigned GROUP BY lang, split ORDER BY lang, split
    """,
)
def stratified_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~81/6/13 via the first
    md5 nibble of the doc id: 0-12 train, 13 val, 14-15 test) with a
    per-language occupancy report — the split every training run
    freezes BEFORE any filtering so later pipeline changes can never
    leak eval docs into train (hash-of-id is stable across reruns and
    engines, unlike rand() or row position). Map-only assignment, one
    (lang, split) aggregation."""
    d = Catalog(spark, sf_dir).documents
    nib = (
        F.expr(
            "instr('0123456789abcdef',"
            " substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1"
        )
    )
    split = (
        F.when(nib < 13, "train").when(nib < 14, "val").otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "split")
    )


def _langid_confusion_oracle() -> str:
    from hdsp_hive_release_src_spark.functions.text import (
        LANG_STOPWORDS,
        sql_in_list,
    )

    pred = _langid_case_sql(
        {
            lang: f"len(list_filter(ws, t -> t IN ({sql_in_list(ws_)})))"
            for lang, ws_ in LANG_STOPWORDS.items()
        }
    )
    return f"""
    WITH scored AS (
      SELECT lang AS true_lang, {pred} AS pred_lang
      FROM (SELECT lang, string_split(text, ' ') AS ws
            FROM documents)),
    cm AS (
      SELECT true_lang, pred_lang, count(*) AS n
      FROM scored GROUP BY 1, 2),
    tot AS (SELECT true_lang, sum(n) AS t FROM cm GROUP BY 1)
    SELECT cm.true_lang, cm.pred_lang, cm.n,
           round(cm.n * 1.0 / tot.t, 6) AS recall_share,
           (cm.true_lang = cm.pred_lang) AS is_correct
    FROM cm JOIN tot ON cm.true_lang = tot.true_lang
    ORDER BY cm.true_lang, cm.pred_lang
    """


@query("langid_confusion_matrix", oracle=_langid_confusion_oracle())
def langid_confusion_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classifier evaluation as a first-class pipeline query: the
    language-ID heuristic (text_langid's stopword argmax) scored
    against the labeled `lang` column as a full confusion matrix —
    per (true, predicted) cell counts, per-true-label recall share,
    and the diagonal flag. This is the quality gate a real curation
    pipeline runs before trusting a cheap classifier to route
    millions of documents; evaluating IN the engine (one scan + one
    tiny aggregate) beats exporting samples to a notebook. The
    recall share is one exact-count division per cell."""
    from hdsp_hive_release_src_spark.functions.text import (
        LANG_STOPWORDS,
        stopword_hits,
    )

    d = Catalog(spark, sf_dir).documents
    hit_exprs = {
        lang: stopword_hits("split(text, ' ')", words)
        for lang, words in LANG_STOPWORDS.items()
    }
    scored = d.select(
        F.col("lang").alias("true_lang"),
        F.expr(_langid_case_sql(hit_exprs)).alias("pred_lang"),
    )
    cm = scored.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("true_lang")
    return (
        cm.withColumn(
            "recall_share", F.round(F.col("n") / F.sum("n").over(wt), 6)
        )
        .withColumn(
            "is_correct", F.col("true_lang") == F.col("pred_lang")
        )
        .orderBy("true_lang", "pred_lang")
    )


#: head window (tokens 0..HEAD-1) and minimum corpus frequency for
#: boilerplate_position_bias — shared by impl + oracle.
_BP_HEAD = 5
_BP_MIN_TOTAL = 100


@query(
    "boilerplate_position_bias",
    oracle=f"""
    WITH pos AS (
      SELECT unnest(list_transform(string_split(text, ' '),
                    (x, i) -> {{'token': x, 'pos': i - 1}}),
             recursive := true)
      FROM documents),
    per_tok AS (
      SELECT token, count(*) AS n_total,
             CAST(sum(CASE WHEN pos < {_BP_HEAD} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_head
      FROM pos GROUP BY token),
    tot AS (
      SELECT sum(n_total) AS all_total, sum(n_head) AS all_head
      FROM per_tok)
    SELECT token, n_total, n_head,
           CAST(n_head * all_total * 1000
                // (n_total * all_head) AS BIGINT)
               AS head_bias_permille
    FROM per_tok CROSS JOIN tot
    WHERE n_total >= {_BP_MIN_TOTAL}
    ORDER BY head_bias_permille DESC, token
    """,
)
def boilerplate_position_bias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Positional token statistics for boilerplate/header detection:
    tokens over-represented in the first {HEAD} positions of
    documents relative to their corpus share (headers, nav text, and
    license banners show bias ≫ 1000‰; body vocabulary ≈ 1000‰).
    Used to build strip-lists when cleaning crawl corpora. Scale
    shape: posexplode → one token-keyed shuffle with map-side partial
    counts (head membership folds into the same agg — no second
    scan), the two corpus totals broadcast back as one row. All
    arithmetic is exact integers (bias is bigint permille via integer
    division) — zero float-order risk by construction."""
    d = Catalog(spark, sf_dir).documents
    # r13 subtree-sweep fix: the vocab table fed both the totals and
    # the output join, re-running the tokenize scan twice. Checkpoint
    # the vocab-sized table; the totals read it.
    per_tok = (
        d.select(
            F.posexplode(F.split("text", " ")).alias("pos", "token")
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                (F.col("pos") < _BP_HEAD).cast("int")
            ).alias("n_head"),
        )
        .localCheckpoint()
    )
    tot = per_tok.agg(
        F.sum("n_total").alias("all_total"),
        F.sum("n_head").alias("all_head"),
    )
    return (
        per_tok.crossJoin(F.broadcast(tot))
        .where(F.col("n_total") >= _BP_MIN_TOTAL)
        .select(
            "token",
            "n_total",
            "n_head",
            F.expr(
                "n_head * all_total * 1000 div (n_total * all_head)"
            )
            .cast("long")
            .alias("head_bias_permille"),
        )
        .orderBy(F.col("head_bias_permille").desc(), "token")
    )


# --------------------------------------------------------------------
# deterministic global corpus shuffle
# --------------------------------------------------------------------

#: affine-hash constants for the corpus shuffle (same exact-int64
#: idiom as the CMS/Bloom/KMV sketches — every intermediate stays in
#: int64 so DuckDB replays the permutation bit-for-bit).
_SHUF_A = 1103515245
_SHUF_B = 12345
_SHUF_P = 2147483647  # 2^31 - 1
_SHUF_SHARDS = 8


@query(
    "shuffle_text_global",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             ((({_SHUF_A} * doc_id + {_SHUF_B}) % {_SHUF_P})
              + {_SHUF_P}) % {_SHUF_P} AS hv,
             len(list_filter(string_split(text, ' '),
                 x -> x <> '')) AS n_tokens
      FROM documents),
    pos AS (
      SELECT doc_id, hv % {_SHUF_SHARDS} AS shard, n_tokens,
             row_number() OVER (PARTITION BY hv % {_SHUF_SHARDS}
                                ORDER BY hv, doc_id) AS pos
      FROM h)
    SELECT shard, count(*) AS n_docs,
           CAST(sum(pos * doc_id) AS BIGINT) AS perm_checksum,
           CAST(max(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT)
               AS head_doc,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM pos GROUP BY shard ORDER BY shard
    """,
)
def shuffle_text_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-data shuffle: every document gets
    an affine-hash position h(doc_id); shard = h mod S; within-shard
    order = (h, doc_id). This is how a 100 TB corpus is shuffled for
    training WITHOUT a global sort over random() — the permutation is
    reproducible across engines, retries, and reruns (rand() is not),
    each shard is an independent hash-sorted partition (S-way
    parallelism, no cross-shard coordination), and appends re-shuffle
    only the new rows' positions. The output pins the permutation:
    perm_checksum = Σ position·doc_id changes if ANY document moves
    one slot. One hash-keyed shuffle + per-shard window sort — the
    sort is per-shard (spillable, bounded by shard size), never
    global. S=8 here keeps the oracle output compact; at cluster
    scale S is sized to ~4× executor count so each shard sorts
    ~corpus/S and shards write out in parallel — the checksum
    contract is S-independent."""
    d = Catalog(spark, sf_dir).documents
    hv = (
        (F.lit(_SHUF_A) * F.col("doc_id") + F.lit(_SHUF_B))
        % F.lit(_SHUF_P)
        + F.lit(_SHUF_P)
    ) % F.lit(_SHUF_P)
    from pyspark.sql.window import Window

    base = d.select(
        "doc_id",
        hv.alias("hv"),
        F.size(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("n_tokens"),
    ).withColumn("shard", F.col("hv") % _SHUF_SHARDS)
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    pos = base.withColumn("pos", F.row_number().over(w))
    return (
        pos.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("pos") * F.col("doc_id"))
            .cast("long")
            .alias("perm_checksum"),
            F.max(F.when(F.col("pos") == 1, F.col("doc_id")))
            .cast("long")
            .alias("head_doc"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------
# leakage-safe grouped split
# --------------------------------------------------------------------

@query(
    "grouped_train_test_split",
    oracle="""
    WITH keyed AS (
      SELECT source,
             (strpos('0123456789abcdef', substr(md5(source), 1, 1)) - 1)
               * 16
             + (strpos('0123456789abcdef', substr(md5(source), 2, 1))
                - 1) AS hb,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS n_tokens
      FROM documents),
    tagged AS (
      SELECT CASE WHEN hb % 5 = 0 THEN 'eval' ELSE 'train' END
                 AS split,
             source, n_tokens
      FROM keyed)
    SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def grouped_train_test_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe train/eval split: the split unit is the GROUP
    (source), not the row — every document of a source lands on the
    same side, so near-duplicates within a crawl source can never
    straddle the boundary (the leakage mode row-level splits like
    stratified_eval_split cannot prevent). Assignment is the first
    md5 byte of the group key mod 5 (≈20% eval) — deterministic,
    engine-replayable, stable under appends. Map-only tag + one
    2-row agg; no join, no shuffle beyond the final groupBy."""
    d = Catalog(spark, sf_dir).documents
    hexs = "0123456789abcdef"
    h = F.md5(F.col("source"))
    hb = (
        (F.instr(F.lit(hexs), F.substring(h, 1, 1)) - 1) * 16
        + (F.instr(F.lit(hexs), F.substring(h, 2, 1)) - 1)
    )
    split = F.when(hb % 5 == 0, "eval").otherwise("train")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    return (
        d.select(
            split.alias("split"), "source", n_tok.alias("n_tokens")
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("split")
    )


#: affine fold hash (the r7 exact-int sketch idiom)
_KF_A = 1103515245
_KF_C = 12345
_KF_P = 2147483647
_KF_K = 5


# --------------------------------------------------------------------
# stratified k-fold assignment
# --------------------------------------------------------------------

_KFOLD_ORACLE = f"""
WITH folded AS (
  SELECT lang,
         (({_KF_A} * doc_id + {_KF_C}) % {_KF_P}) % {_KF_K} AS fold
  FROM documents),
per AS (
  SELECT lang, fold, CAST(count(*) AS BIGINT) AS n
  FROM folded GROUP BY lang, fold),
tot AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS lang_n
  FROM folded GROUP BY lang)
SELECT per.lang, fold, n,
       CAST(n * 1000 // lang_n AS BIGINT) AS share_permille
FROM per JOIN tot ON per.lang = tot.lang
ORDER BY per.lang, fold
"""


@query("stratified_kfold_assignment", oracle=_KFOLD_ORACLE)
def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation splitter: fold =
    affine_hash(doc_id) mod 5 — reproducible on any cluster layout
    (never rand()), stratification REPORTED per language as exact
    permille shares so a skewed fold is visible in the output rather
    than asserted away. The hash is the r7 exact-int idiom, so DuckDB
    replays membership row-for-row; at 100 TB the assignment is a
    map-only projection (no shuffle at all until the audit agg)."""
    d = Catalog(spark, sf_dir).documents
    folded = d.select(
        "lang",
        (
            (F.lit(_KF_A) * F.col("doc_id") + F.lit(_KF_C))
            % F.lit(_KF_P)
            % F.lit(_KF_K)
        ).alias("fold"),
    )
    per = folded.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = folded.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("lang_n")
    )
    return (
        per.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "fold",
            "n",
            F.expr("CAST(n * 1000 div lang_n AS BIGINT)").alias(
                "share_permille"
            ),
        )
        .orderBy("lang", "fold")
    )


# --------------------------------------------------------------------
# Jensen–Shannon drift per source
# --------------------------------------------------------------------

_JS_ORACLE = """
WITH wc AS (
  SELECT source, x AS w
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
  WHERE x <> ''),
per_source AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM wc GROUP BY source, w),
tots AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS tot
  FROM per_source GROUP BY source),
corpus AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS cc FROM per_source GROUP BY w),
ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS ct FROM corpus),
terms AS (
  SELECT ps.source,
         CAST(ps.c AS DOUBLE) / t.tot AS p,
         CAST(co.cc AS DOUBLE) / ctot.ct AS q
  FROM per_source ps
  JOIN tots t ON ps.source = t.source
  JOIN corpus co ON ps.w = co.w
  CROSS JOIN ctot)
SELECT source,
       round(0.5 * sum(p * ln(p / ((p + q) / 2)))
             + 0.5 * (sum(q * ln(q / ((p + q) / 2)))
                      + ln(2) * (1 - sum(q))), 6) AS js_nats,
       CAST(count(*) AS BIGINT) AS n_terms
FROM terms GROUP BY source ORDER BY source
"""


@query("jensen_shannon_drift", oracle=_JS_ORACLE)
def jensen_shannon_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of each source's word distribution
    from the corpus — symmetric and bounded by ln 2, the drift score
    to alarm on when KL's asymmetry misleads. The q-side KL runs over
    the WHOLE corpus vocabulary, but terms absent from the source
    contribute exactly q·ln2 (m = q/2 there), so that mass is folded
    ANALYTICALLY as ln2·(1 − Σ over p>0 of q) — the vocab×sources grid a
    naive implementation would materialize (the 100 TB killer) never
    exists. Float shape mirrors kl_divergence_drift (fuzz-stable,
    driver-green since r2): per-term doubles from exact counts,
    round(…, 6)."""
    d = Catalog(spark, sf_dir).documents
    wc = d.select("source", F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    # r12 scan-count re-plan: tots/corpus/ctot all derive from the
    # (source, word) count table, and each derivation re-executed the
    # tokenize pipeline (FOUR corpus scans measured). The term-
    # frequency table is eagerly localCheckpoint-ed — the production
    # "materialize the TF table" move — so the whole query costs ONE
    # corpus scan plus vocab-sized local IO. Row values are identical;
    # only the lineage changes.
    per_source = (
        wc.groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    tots = per_source.groupBy("source").agg(
        F.sum("c").cast("long").alias("tot")
    )
    # r13 subtree-sweep fix (the kl twin got the same): corpus feeds
    # both the broadcast join and the corpus total, so the vocab
    # aggregate over the TF checkpoint executed twice. Checkpoint the
    # vocab-sized table once; ctot reads it.
    corpus = (
        per_source.groupBy("w")
        .agg(F.sum("c").cast("long").alias("cc"))
        .localCheckpoint()
    )
    ctot = corpus.agg(F.sum("cc").cast("long").alias("ct"))
    terms = (
        per_source.join(F.broadcast(tots), "source")
        .join(F.broadcast(corpus), "w")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            (F.col("c").cast("double") / F.col("tot")).alias("p"),
            (F.col("cc").cast("double") / F.col("ct")).alias("q"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.round(
                0.5 * F.sum(F.expr("p * ln(p / ((p + q) / 2))"))
                + 0.5
                * (
                    F.sum(F.expr("q * ln(q / ((p + q) / 2))"))
                    + F.expr("ln(2)") * (1 - F.sum("q"))
                ),
                6,
            ).alias("js_nats"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# readability proxy bands
# --------------------------------------------------------------------

_READ_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CAST(length(list_filter(string_split(text, ' '),
                                 x -> x <> '')) AS BIGINT) AS words,
         CAST(length(regexp_extract_all(lower(text), '[aeiou]+'))
              AS BIGINT) AS syll
  FROM documents),
f AS (
  SELECT doc_id, words, syll,
         greatest(1, words // 15) AS sents
  FROM m WHERE words > 0),
sc AS (
  SELECT doc_id,
         206835
         - (1015 * (words * 1000 // sents)) // 1000
         - (84600 * (syll * 1000 // words)) // 1000 AS flesch_milli
  FROM f)
SELECT CAST(flesch_milli // 10000 AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(min(flesch_milli) AS BIGINT) AS min_milli,
       CAST(max(flesch_milli) AS BIGINT) AS max_milli
FROM sc GROUP BY 1 ORDER BY band
"""


@query("readability_proxy_bands", oracle=_READ_ORACLE)
def readability_proxy_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flesch-style readability banding with a deterministic
    syllable proxy (vowel-group count — the standard
    dictionary-free approximation) and a 15-words-per-sentence
    proxy (the corpus text carries no sentence punctuation). The
    whole score pipeline is integer milli-units with explicit
    truncating division at each stage, so both engines land on the
    IDENTICAL band for every document — a float Flesch formula
    would band-flip documents sitting on a boundary. Map-side only
    until the bounded band histogram: the scale shape is one scan +
    one tiny aggregation."""
    d = Catalog(spark, sf_dir).documents
    m = d.select(
        "doc_id",
        F.size(
            F.expr("filter(split(text, ' '), x -> x != '')")
        )
        .cast("long")
        .alias("words"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")
        )
        .cast("long")
        .alias("syll"),
    )
    f = m.where(F.col("words") > 0).withColumn(
        "sents", F.greatest(F.lit(1), F.expr("words div 15"))
    )
    sc = f.select(
        "doc_id",
        F.expr(
            "206835"
            " - (1015 * (words * 1000 div sents)) div 1000"
            " - (84600 * (syll * 1000 div words)) div 1000"
        ).alias("flesch_milli"),
    )
    return (
        sc.groupBy(
            F.expr("flesch_milli div 10000")
            .cast("long")
            .alias("band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.min("flesch_milli").cast("long").alias("min_milli"),
            F.max("flesch_milli").cast("long").alias("max_milli"),
        )
        .orderBy("band")
    )


#: frame-sampling parameters: payload bytes per "frame", sample stride
FRAME_BYTES = 16
FRAME_STRIDE = 4


@query(
    "frame_sample_plumbing",
    oracle=f"""
    WITH v AS (
      SELECT doc_id, text,
             octet_length(encode(text)) // {FRAME_BYTES} AS n_frames
      FROM documents WHERE doc_id < 400),
    s AS (
      SELECT doc_id, n_frames,
             range(0, n_frames, {FRAME_STRIDE}) AS idxs, text
      FROM v)
    SELECT doc_id,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(len(idxs) AS BIGINT) AS n_sampled,
           CAST(coalesce(list_sum(list_transform(idxs,
                i -> ord(substring(text, CAST(i * {FRAME_BYTES} + 1
                                              AS INTEGER), 1)))), 0)
                AS BIGINT) AS sampled_feat
    FROM s ORDER BY doc_id
    """,
)
def frame_sample_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: each doc's bytes stand in for a
    video payload cut into 16-byte "frames"; every 4th frame is
    sampled and "decoded" (deterministic first-byte feature — a real
    deployment swaps in the codec here, same signature). The sampling
    runs in an Arrow-batched mapInPandas over the BINARY column — the
    exact batch shape a real decoder UDF needs — and the byte-accurate
    oracle proves the index arithmetic and payload slicing, i.e. the
    part that stays when the codec arrives. Map-only, no shuffle."""
    import pandas as pd

    d = Catalog(spark, sf_dir).documents.where(F.col("doc_id") < 400)
    src = d.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                n_frames = len(buf) // FRAME_BYTES
                idxs = range(0, n_frames, FRAME_STRIDE)
                feat = sum(buf[i * FRAME_BYTES] for i in idxs)
                rows.append(
                    (doc_id, n_frames, len(list(idxs)), feat)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_frames",
                    "n_sampled",
                    "sampled_feat",
                ],
            )

    return (
        src.mapInPandas(
            sample,
            schema=(
                "doc_id long, n_frames long, n_sampled long, "
                "sampled_feat long"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "mixture_weights",
    oracle="""
    WITH tok AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                 AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT sum(n_tokens) AS total, count(*) AS n_sources FROM tok)
    SELECT source, n_tokens,
           round((total / n_sources) / n_tokens, 6) AS weight,
           CAST(round(n_tokens * round((total / n_sources) / n_tokens,
                                       6)) AS BIGINT)
               AS expected_tokens
    FROM tok, tot ORDER BY source
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: per-source token counts → the
    sampling weight that equalizes every source's contribution
    (weight > 1 means the source repeats for multiple epochs, < 1
    means downsampling) plus the resulting expected token budget — the
    arithmetic behind every data-mixture config. One aggregation
    shuffle; the totals are a broadcast scalar."""
    d = Catalog(spark, sf_dir).documents
    # r13 subtree-sweep fix: the totals and the output join both
    # re-ran the per-source rollup from parquet. Source-sized —
    # checkpoint once.
    tok = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    ).localCheckpoint()
    tot = tok.agg(
        F.sum("n_tokens").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    weight = F.round(
        (F.col("total") / F.col("n_sources")) / F.col("n_tokens"), 6
    )
    return (
        tok.join(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            weight.alias("weight"),
            F.round(F.col("n_tokens") * weight)
            .cast("long")
            .alias("expected_tokens"),
        )
        .orderBy("source")
    )

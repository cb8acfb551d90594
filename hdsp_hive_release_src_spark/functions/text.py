"""Text-analysis column expressions: tokenization, stopword metrics.

Mini stopword inventories for the heuristic language-ID operator —
deliberately tiny, deterministic, and SQL-portable (the oracle repeats
them verbatim in DuckDB SQL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "ein", "zu", "den")
STOPWORDS_FR = ("le", "la", "les", "et", "est", "un", "une", "des")
STOPWORDS_ES = ("el", "la", "los", "y", "es", "un", "una", "de")
STOPWORDS_ZH = ("的", "是", "了", "在", "和", "有", "我", "不")

LANG_STOPWORDS = {
    "en": STOPWORDS_EN,
    "de": STOPWORDS_DE,
    "fr": STOPWORDS_FR,
    "es": STOPWORDS_ES,
    "zh": STOPWORDS_ZH,
}

# Non-empty whitespace tokens as a Spark SQL expression, shared shape
# with the oracles' string_split + filter.
WORD_TOKENS_SQL = "filter(split(text, ' '), t -> t != '')"


def tokens(text_col: str) -> Column:
    """Whitespace tokens (Hive sentences()/split() analog)."""
    return F.split(F.col(text_col), " ")


def sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def stopword_hits(tokens_expr: str, words: tuple[str, ...]) -> str:
    """SQL expr: number of tokens that are in the stopword set."""
    return f"size(filter({tokens_expr}, t -> t IN ({sql_in_list(words)})))"

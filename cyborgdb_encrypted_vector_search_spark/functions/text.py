"""Text-analysis column expressions: tokenization, quality scoring,
language identification.

Generalization of the reference's text handling (it only trims lines,
reference src/main.py:9) into the text-analysis operators a training
data pipeline needs (north-star scope). Everything is a Catalyst
expression over built-in string/array/regex functions — JVM-side,
codegen-friendly, no UDFs — with a DuckDB SQL twin for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker-word lists for the n-gram/stopword heuristic
# language id. Deliberately small + deterministic: the operator shape
# (tokenize → intersect with marker sets → argmax) is what matters; a
# production deployment swaps in real stopword tables via the same API.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "as"],
    "fr": ["le", "la", "les", "des", "et", "est", "que", "pour", "dans", "une"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "es": ["el", "los", "las", "de", "y", "es", "que", "por", "con", "una"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "人"],
}

STOPWORDS_EN = LANG_MARKERS["en"]

# Word tokens: runs of letters/digits, lowercased; this separator regex
# splits them the same way in Spark and in the DuckDB oracle.
SQL_WORD_RE = r"[^a-z0-9À-ɏ一-鿿]+"


def tokens(col: Column | str) -> Column:
    """Lowercased word tokens as array<string> (empty strings removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), SQL_WORD_RE), lambda t: t != F.lit("")
    )


def sql_tokens(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), "
        f"'{SQL_WORD_RE}'), t -> t != '')"
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def sql_token_count(expr: str) -> str:
    return f"len({sql_tokens(expr)})"


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(
        F.regexp_replace(c, r"[!-/:-@\[-`{-~]", "")
    )
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(c).cast("double")
    )


def sql_punct_ratio(expr: str) -> str:
    cleaned = f"regexp_replace({expr}, '[!-/:-@\\[-`{{-~]', '', 'g')"
    return (
        f"CASE WHEN length({expr}) = 0 THEN 0.0 ELSE "
        f"(length({expr}) - length({cleaned})) * 1.0 / length({expr}) END"
    )


def stopword_ratio_from(toks: Column, stopwords: list[str] | None = None) -> Column:
    """stopword_ratio over an already-materialized tokens column (use in
    multi-metric projections so tokenization runs once per row)."""
    sw = stopwords or STOPWORDS_EN
    sw_arr = F.array(*[F.lit(w) for w in sw])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        n_sw.cast("double") / F.size(toks).cast("double")
    )


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords; 0 if no tokens."""
    return stopword_ratio_from(tokens(col), stopwords)


def sql_stopword_ratio(expr: str, stopwords: list[str] | None = None) -> str:
    sw = stopwords or STOPWORDS_EN
    sw_sql = "[" + ", ".join(f"'{w}'" for w in sw) + "]"
    toks = sql_tokens(expr)
    return (
        f"CASE WHEN len({toks}) = 0 THEN 0.0 ELSE "
        f"len(list_filter({toks}, t -> list_contains({sw_sql}, t))) * 1.0 "
        f"/ len({toks}) END"
    )


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score: rewards mid-length docs, penalizes
    punctuation soup; mirrors common pretraining-corpus filters.

    score = min(n_tokens/20, 1) * (1 - punct_ratio)
    """
    tc = token_count(col).cast("double")
    return F.round(
        F.least(tc / F.lit(20.0), F.lit(1.0)) * (F.lit(1.0) - punct_ratio(col)),
        6,
    )


def sql_quality_score(expr: str) -> str:
    return (
        f"round(least({sql_token_count(expr)} * 1.0 / 20.0, 1.0) "
        f"* (1.0 - {sql_punct_ratio(expr)}), 6)"
    )


def lang_id_from(toks: Column) -> Column:
    """lang_id over an already-materialized tokens column."""

    def _contains(w_arr):
        # plain closure: a default-arg lambda would make PySpark treat
        # the function as the (element, index) two-arg variant
        return lambda t: F.array_contains(w_arr, t)

    scored = []
    for lang, words in sorted(LANG_MARKERS.items()):
        w_arr = F.array(*[F.lit(w) for w in words])
        score = F.size(F.filter(toks, _contains(w_arr)))
        # struct sorts by (neg_score, lang): element 0 after sort_array is
        # the max-score / lexicographically-first language.
        scored.append(F.struct((-score).alias("neg"), F.lit(lang).alias("lang")))
    ordered = F.sort_array(F.array(*scored))
    return ordered[0]["lang"]


def lang_id(col: Column | str) -> Column:
    """Heuristic language id: argmax over marker-word hit counts.

    Ties (including the all-zero case) resolve to the lexicographically
    first language code among the max-scoring set — deterministic, and
    reproduced exactly by the SQL twin.
    """
    return lang_id_from(tokens(col))


def sql_lang_id(expr: str) -> str:
    toks = sql_tokens(expr)
    structs = []
    for lang, words in sorted(LANG_MARKERS.items()):
        w_sql = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        score = f"len(list_filter({toks}, t -> list_contains({w_sql}, t)))"
        structs.append(f"{{'neg': -{score}, 'lang': '{lang}'}}")
    arr = "[" + ", ".join(structs) + "]"
    return f"list_sort({arr})[1]['lang']"


# PII patterns shared by the scan and the redactor. Kept to constructs
# whose semantics agree between Java regex (Spark) and RE2 (DuckDB
# oracle): character classes, bounded repetition, literals.
PII_PATTERNS = {
    "ssn": r"\d{3}-\d{2}-\d{4}",
    "card": r"\d{4} \d{4} \d{4} \d{4}",
    "email": r"[a-z0-9]+@[a-z]+\.[a-z]+",
}


def pii_flag(col: Column | str, kind: str) -> Column:
    """True where the text contains the given PII pattern."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(PII_PATTERNS[kind])


def redact_pii(col: Column | str) -> Column:
    """Replace every PII occurrence with its [KIND] placeholder.

    Spark's regexp_replace is global; applied in fixed key order so
    the composition is deterministic.
    """
    c = F.col(col) if isinstance(col, str) else col
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return c

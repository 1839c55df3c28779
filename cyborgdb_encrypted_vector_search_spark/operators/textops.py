"""Document-table text-analysis operators (profile, filter, fingerprint).

Composes functions.text / functions.hashing into whole-table operators
over the ``documents`` schema (doc_id, text, lang, source, n_chars).
All scan→project pipelines: no shuffle except where a groupBy is the
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import hashing as H
from cyborgdb_encrypted_vector_search_spark.functions import text as X


def profile(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document text metrics: tokens, chars, punct ratio, stopword
    ratio, quality score, heuristic language, fingerprint.

    Tokens and punct ratio are materialized in a first projection, then
    every metric reads the attributes — tokenization runs once per row,
    not once per metric (~8x less regex/split work than naive inlining).
    """
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        t.alias("__text"),
        X.tokens(t).alias("__toks"),
        X.punct_ratio(t).alias("__punct"),
    )
    toks = F.col("__toks")
    tc = F.size(toks)
    quality = F.round(
        F.least(tc.cast("double") / F.lit(20.0), F.lit(1.0))
        * (F.lit(1.0) - F.col("__punct")),
        6,
    )
    return staged.select(
        F.col(id_col),
        tc.alias("n_tokens"),
        X.char_count(F.col("__text")).alias("n_chars_computed"),
        F.round(F.col("__punct"), 7).alias("punct_ratio"),
        F.round(X.stopword_ratio_from(toks), 7).alias("stopword_ratio"),
        quality.alias("quality"),
        X.lang_id_from(toks).alias("lang_pred"),
        H.fingerprint_md5(F.col("__text")).alias("fingerprint"),
    )


def lang_distribution(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus language histogram from the heuristic classifier."""
    return (
        df.select(X.lang_id(F.col(text_col)).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def char_ngram_lm(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Train a character n-gram language model: (gram, count) over the
    lower-cased corpus. One explode + one shuffle (map-side combined);
    the model is bounded by alphabet^n — a few hundred rows for ASCII
    trigrams — so it BROADCASTS at any corpus size. The CCNet-style
    quality-filter recipe trains this on a trusted corpus and scores
    candidates against it; here train == score corpus, which the
    differential gate exploits (every gram is in-vocabulary)."""
    s = F.lower(F.col(text_col))
    grams = F.expr(
        f"transform(sequence(1, length(lower({text_col})) - {n - 1}),"
        f" i -> substring(lower({text_col}), i, {n}))"
    )
    return (
        df.filter(F.length(s) >= n)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gram_count"))
    )


def perplexity_bits(
    df: DataFrame,
    lm: DataFrame,
    id_cols: tuple = ("doc_id",),
    text_col: str = "text",
    n: int = 3,
    digits: int = 5,
) -> DataFrame:
    """Per-document mean surprisal in bits under the n-gram LM:
    avg(-log2 p(gram)) with p = count/total — the perplexity-filter
    score (high = out-of-distribution / low-quality text). Plan:
    explode grams → BROADCAST join to the (bounded) LM → per-doc avg.
    No UDF, no driver loop; the heavy side shuffles once on the doc
    grouping."""
    s = F.lower(F.col(text_col))
    grams = F.expr(
        f"transform(sequence(1, length(lower({text_col})) - {n - 1}),"
        f" i -> substring(lower({text_col}), i, {n}))"
    )
    total = lm.agg(F.sum("gram_count").cast("double").alias("__t"))
    exploded = (
        df.filter(F.length(s) >= n)
        .select(*id_cols, F.explode(grams).alias("gram"))
        .join(F.broadcast(lm), "gram")
        .crossJoin(F.broadcast(total))
    )
    bits = F.log2(F.col("__t")) - F.log2(F.col("gram_count").cast("double"))
    return exploded.groupBy(*id_cols).agg(
        F.round(F.avg(bits), digits).alias("bits")
    )


def chunk_documents(
    df: DataFrame,
    size: int = 200,
    overlap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the RAG/embedding-pipeline preprocessing step (a long document
    becomes N windows that each fit the embedder's context). Chunks
    start every ``size - overlap`` chars; the final chunk is the last
    full-or-short window that reaches the end of the document, so
    every character lands in >= 1 chunk and short docs yield exactly
    one. Pure codegen (sequence + transform + posexplode): no UDF, no
    shuffle — chunking is a projection, and at 100 TB it runs inside
    the ingest scan. Returns (id, chunk_idx, chunk) rows."""
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    stride = size - overlap
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(F.length(text_col), F.lit(1)) - F.lit(size) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("int")
    )
    n_chunks = F.greatest(n_chunks, F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.substring(
            F.col(text_col), (i * stride + F.lit(1)).cast("int"), size
        ),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )

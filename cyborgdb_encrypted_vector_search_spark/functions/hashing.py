"""Hashing / fingerprinting column expressions (dedup building blocks).

Two families:

- **Oracle-portable hashes** built on ``md5`` (identical output in Spark
  and DuckDB) — used by the correctness-gated queries so MinHash /
  SimHash / fingerprint results can be differentially tested against
  the DuckDB oracle.
- **Fast-path hashes** on ``xxhash64`` (JVM intrinsic, no hex-string
  materialization) — the 8-byte fingerprint you run at 100 TB. Same
  grouping behavior, different hash primitive.

All pure column expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse
    whitespace runs, trim. (The reference strips lines on read,
    reference src/main.py:9; this is the generalized version.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def sql_normalize_text(expr: str) -> str:
    return f"trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def fingerprint_md5(col: Column | str) -> Column:
    """Whole-document fingerprint: md5 of normalized text."""
    return F.md5(normalize_text(col))


def sql_fingerprint_md5(expr: str) -> str:
    return f"md5({sql_normalize_text(expr)})"


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """n-word shingles of normalized text as array<string>.

    Built with sequence+transform+slice — stays JVM-side. Documents with
    fewer than ``n`` words yield a single shingle of the whole text so
    short docs still participate in MinHash.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(normalize_text(c), " ")
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.array_join(F.slice(toks, i, F.lit(n)), " "),
    )


def sql_word_shingles(expr: str, n: int = 3) -> str:
    toks = f"string_split({sql_normalize_text(expr)}, ' ')"
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


def minhash_md5(shingles: Column, num_hashes: int = 8) -> Column:
    """MinHash signature as array<string> of length ``num_hashes``.

    Hash family h_i(s) = md5(i || ':' || s); the signature element is the
    lexicographic min over shingles. Lexicographic min over uniformly
    distributed hex strings preserves the MinHash property (a uniform
    total order over hash outputs is all the scheme needs).
    """
    def _h(i):
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    return F.array(
        *[
            F.array_min(F.transform(shingles, _h(i)))
            for i in range(num_hashes)
        ]
    )


def sql_minhash_md5(shingles_expr: str, num_hashes: int = 8) -> str:
    parts = ", ".join(
        f"list_min(list_transform({shingles_expr}, s -> md5('{i}:' || s)))"
        for i in range(num_hashes)
    )
    return f"[{parts}]"


def minhash_bands(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """LSH bands: array of band-key strings ``band_idx:h1|h2|..``.

    Docs sharing any band key are near-dup candidates. ``explode`` the
    result and group/join on the band key — a pure shuffle-on-short-key
    plan that scales linearly (no pairwise comparison before banding).
    """
    return F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.array_join(
                    F.slice(signature, b * rows_per_band + 1, rows_per_band), "|"
                ),
            )
            for b in range(num_bands)
        ]
    )


def sql_minhash_bands(sig_expr: str, num_bands: int, rows_per_band: int) -> str:
    parts = ", ".join(
        f"'{b}:' || array_to_string(list_slice({sig_expr}, {b * rows_per_band + 1}, "
        f"{(b + 1) * rows_per_band}), '|')"
        for b in range(num_bands)
    )
    return f"[{parts}]"


def simhash32(hashed_tokens: Column) -> Column:
    """32-bit SimHash from per-token md5 hex strings.

    Bit j of the fingerprint is the sign of sum over tokens of
    (+1 if bit j of md5(token) else -1). Near-identical token bags give
    near-identical fingerprints (small Hamming distance) — the
    complementary dedup signal to MinHash (which keys on shingle sets,
    not weighted token distributions).

    Input must be a *materialized* column of md5 hex strings
    (``transform(tokens, md5)``) so the 32 per-bit folds share one hash
    computation per token.
    """
    def _bit_sum(p: int, b: int):
        # closure factory (NOT default-arg lambdas — PySpark would read
        # extra params as the index argument)
        def merge(acc, h):
            val = F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1
            return acc + (F.shiftright(val, b).bitwiseAND(F.lit(1)) * 2 - 1)

        return F.aggregate(hashed_tokens, F.lit(0), merge)

    fingerprint = F.lit(0).cast("bigint")
    for j in range(32):
        s = _bit_sum(j // 4 + 1, j % 4)
        fingerprint = fingerprint + F.when(s > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        ).cast("bigint")
    return fingerprint


def sql_simhash32(hashed_expr: str) -> str:
    """DuckDB twin of :func:`simhash32` over a list-of-md5-hex expr."""
    terms = []
    for j in range(32):
        p, b = j // 4 + 1, j % 4
        contrib = (
            f"((((strpos('0123456789abcdef', substr(h, {p}, 1)) - 1) >> {b})"
            f" & 1) * 2 - 1)"
        )
        s = f"list_sum(list_transform({hashed_expr}, h -> {contrib}))"
        terms.append(f"(CASE WHEN {s} > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def hamming32(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between 32-bit fingerprints."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def sql_hamming32(a: str, b: str) -> str:
    return f"bit_count(xor({a}, {b}))"


def fingerprint_xxhash(col: Column | str) -> Column:
    """Fast-path 64-bit fingerprint (cluster-scale; not oracle-portable)."""
    return F.xxhash64(normalize_text(col))

"""Encrypted-at-rest vector columns.

The reference's "CyborgDB" store is a stub that replaces every vector
with the placeholder string "ENCRYPTED_VECTOR" (reference
src/cyborgdb_store.py:4-11) to model the thesis *ciphertext vectors are
useless to an exfiltration scan*. Here that intent is implemented for
real with Spark's built-in ``aes_encrypt``/``aes_decrypt`` (JVM-side,
Spark >= 3.3): the embedding is serialized to JSON, AES-GCM encrypted,
and stored as a BINARY column. A full scan of the encrypted table (the
reference's "leak", src/chromadb_store.py:10-12) yields ciphertext only;
decryption requires the key and restores the exact float array.

GCM is randomized (fresh IV per row) — identical plaintexts produce
distinct ciphertexts, so ciphertext equality leaks nothing. All
column expressions; en/decryption of a 100 TB table is a scan-project
job with no shuffle.

Every helper checks the key's length (16, 24 or 32 bytes, AES-128/192/
256) when it builds its column, so a bad key fails on the driver before
any job instead of inside a Spark task.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

AES_KEY_BYTES = (16, 24, 32)


def check_key(key: str) -> None:
    """Raise ``ValueError`` unless ``key`` is 16, 24 or 32 bytes long in
    UTF-8, as Spark casts it. The message never holds the key."""
    n = len(key.encode("utf-8"))
    if n not in AES_KEY_BYTES:
        raise ValueError(f"AES key must be 16, 24 or 32 bytes, got {n}")


def encrypt_vector(col: Column | str, key: str) -> Column:
    """array<float|double> → BINARY ciphertext (AES-GCM, random IV)."""
    check_key(key)
    c = F.col(col) if isinstance(col, str) else col
    return F.aes_encrypt(F.to_json(c).cast("binary"), F.lit(key))


def decrypt_vector(col: Column | str, key: str) -> Column:
    """BINARY ciphertext → array<double> (exact round-trip)."""
    check_key(key)
    c = F.col(col) if isinstance(col, str) else col
    plain = F.aes_decrypt(c, F.lit(key)).cast("string")
    return F.from_json(plain, "array<double>")


def encrypt_text(col: Column | str, key: str) -> Column:
    """StringType → BINARY ciphertext (for document bodies)."""
    check_key(key)
    c = F.col(col) if isinstance(col, str) else col
    return F.aes_encrypt(c.cast("binary"), F.lit(key))


def decrypt_text(col: Column | str, key: str) -> Column:
    check_key(key)
    c = F.col(col) if isinstance(col, str) else col
    return F.aes_decrypt(c, F.lit(key)).cast("string")

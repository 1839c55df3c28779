"""Encrypted-at-rest vector columns.

The reference's "CyborgDB" store is a stub that replaces every vector
with the placeholder string "ENCRYPTED_VECTOR" (reference
src/cyborgdb_store.py:4-11) to model the thesis *ciphertext vectors are
useless to an exfiltration scan*. Here that intent is implemented for
real with AES-GCM (``cryptography``'s ``AESGCM``) run in Python: the
helpers are Arrow UDFs (Column in, Column out), and the key lives only
in their closures, so it never appears in a plan, in ``explain`` output
or in a Spark event log. A full scan of the encrypted table (the
reference's "leak", src/chromadb_store.py:10-12) yields ciphertext
only; decryption requires the key and restores the exact float array.

Ciphertext layout is Spark's ``aes_encrypt`` GCM layout: a 12-byte
random IV, the ciphertext, then the 16-byte tag, no AAD (so Spark's
``aes_decrypt`` opens it, and ``AESGCM`` opens Spark's). GCM is
randomized (fresh IV per row): identical plaintexts produce distinct
ciphertexts, so ciphertext equality leaks nothing. A vector's plaintext
is the tag byte ``0x00`` followed by its little-endian float64
components (exact for float and double input; a null component is
stored as NaN, which the kNN kernel scores null like a null component).
Readers also accept the JSON text (``[1.0,2.5]``) that earlier versions
encrypted; key rotation rewrites such rows into the tagged format.

:func:`vector_decoder` is the kNN kernel's decode hook
(``knn.topk_candidates``' ``decode``): each partition decrypts and
scores its own rows in one pass, so no decrypted intermediate exists
outside a task. Every helper checks the key's length (16, 24 or 32
bytes, AES-128/192/256) when it builds its column or hook, so a bad key
fails on the driver before any job instead of inside a Spark task.
"""

from __future__ import annotations

import functools
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
# the module, not its AESGCM class: a by-value pickle of this module
# would copy the (native) class instead of importing it on the worker
from cryptography.hazmat.primitives.ciphers import aead
from pyspark import cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F

AES_KEY_BYTES = (16, 24, 32)
IV_BYTES = 12
F64_TAG = b"\x00"  # plaintext tag: little-endian float64 components follow

# the UDFs and the decode hook ship by value, so Python workers need
# not import this package
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def check_key(key: str) -> bytes:
    """The key's UTF-8 bytes (as Spark casts a string key); raises
    ``ValueError`` unless they are 16, 24 or 32 long. The message never
    holds the key."""
    raw = key.encode("utf-8")
    if len(raw) not in AES_KEY_BYTES:
        raise ValueError(f"AES key must be 16, 24 or 32 bytes, got {len(raw)}")
    return raw


def _seal(key: bytes, plain: list) -> pa.Array:
    """AES-GCM each plaintext (None stays null) under a fresh IV."""
    aes, out = aead.AESGCM(key), []
    for p in plain:
        if p is None:
            out.append(None)
        else:
            iv = os.urandom(IV_BYTES)
            out.append(iv + aes.encrypt(iv, p, None))
    return pa.array(out, pa.binary())


def _open(key: bytes, blobs) -> list:
    """Decrypted plaintexts of a binary Arrow column (None stays null).
    A wrong key or a tampered row fails GCM authentication and raises."""
    aes = aead.AESGCM(key)
    return [
        None if b is None else aes.decrypt(b[:IV_BYTES], b[IV_BYTES:], None)
        for b in blobs.to_pylist()
    ]


def _components(plain: bytes | None) -> bytes | None:
    """A vector plaintext as raw little-endian float64 bytes: the tagged
    format as stored, a JSON-era array parsed (null components as NaN)."""
    if plain is None:
        return None
    if plain[:1] == F64_TAG:
        return plain[1:]
    return np.array(json.loads(plain), dtype="<f8").tobytes()


def _vector_plaintexts(vecs: pa.Array) -> list:
    """Tagged float64 plaintext of every row of a list<float|double>
    column, from one flat buffer (a null row stays null)."""
    lengths = pc.fill_null(pc.list_value_length(vecs), 0).to_numpy()
    flat = pc.list_flatten(vecs).to_numpy(zero_copy_only=False)
    buf = flat.astype("<f8").tobytes()
    ends = 8 * np.cumsum(lengths)
    return [
        F64_TAG + buf[e - 8 * n : e] if valid else None
        for n, e, valid in zip(lengths, ends, vecs.is_valid().to_numpy(zero_copy_only=False))
    ]


def decrypt_texts(blobs: pa.Array, key: str) -> pa.Array:
    """Driver-side: a binary column of :func:`encrypt_text` ciphertext
    as the string column it encrypts (the query path opens its k hits'
    documents this way)."""
    return _decrypt_text(blobs, check_key(key))


def decode_vectors(t: pa.Table, d: int, key: bytes) -> tuple[np.ndarray, np.ndarray]:
    """The decode hook of encrypted rows (``knn.topk_candidates``'
    ``decode``): the binary ``embedding`` ciphertexts as the (valid
    rows x d) float64 matrix, read with one ``np.frombuffer`` over the
    decrypted components, plus the valid-row mask. A null ciphertext or
    a vector of another length scores null."""
    rows = [_components(p) for p in _open(key, t.column("embedding"))]
    ok = np.array([r is not None and len(r) == 8 * d for r in rows], dtype=bool)
    x = np.frombuffer(b"".join(r for r, o in zip(rows, ok) if o), dtype="<f8")
    return x.reshape(-1, d), ok


def vector_decoder(key: str):
    """:func:`decode_vectors` bound to ``key`` (checked here, on the
    driver) for the ``embedding`` column of a kernel's corpus."""
    return functools.partial(decode_vectors, key=check_key(key))


def _udf(fn, key: str, col: Column | str, return_type: str, deterministic: bool) -> Column:
    """``fn(values, key bytes)`` as a scalar Arrow UDF over ``col``; the
    key is checked before the Column exists and rides in the closure."""
    raw = check_key(key)

    def run(values: pa.Array) -> pa.Array:
        return fn(values, raw)

    run.__name__ = fn.__name__.lstrip("_")
    udf = F.arrow_udf(run, return_type)  # pa.Array -> pa.Array: scalar
    if not deterministic:  # a fresh IV per call
        udf = udf.asNondeterministic()
    return udf(F.col(col) if isinstance(col, str) else col)


def _encrypt_vector(vecs, key):
    return _seal(key, _vector_plaintexts(vecs))


def _decrypt_vector(blobs, key):
    rows = [_components(p) for p in _open(key, blobs)]
    lengths = np.array([0 if r is None else len(r) // 8 for r in rows])
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    flat = np.frombuffer(b"".join(r for r in rows if r), dtype="<f8")
    mask = pa.array([r is None for r in rows], pa.bool_())
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat), mask=mask)


def _encrypt_text(texts, key):
    return _seal(key, [None if s is None else s.encode("utf-8") for s in texts.to_pylist()])


def _decrypt_text(blobs, key):
    return pa.array(
        [None if p is None else p.decode("utf-8") for p in _open(key, blobs)], pa.string()
    )


def encrypt_vector(col: Column | str, key: str) -> Column:
    """array<float|double> → BINARY ciphertext (AES-GCM, random IV)."""
    return _udf(_encrypt_vector, key, col, "binary", deterministic=False)


def decrypt_vector(col: Column | str, key: str) -> Column:
    """BINARY ciphertext → array<double> (exact round-trip)."""
    return _udf(_decrypt_vector, key, col, "array<double>", deterministic=True)


def encrypt_text(col: Column | str, key: str) -> Column:
    """StringType → BINARY ciphertext (for document bodies)."""
    return _udf(_encrypt_text, key, col, "binary", deterministic=False)


def decrypt_text(col: Column | str, key: str) -> Column:
    """BINARY ciphertext → StringType."""
    return _udf(_decrypt_text, key, col, "string", deterministic=True)

"""The encrypted store's thesis, end to end: the AES key appears in no
plan and no Spark event log, ciphertext written by the JVM cipher of
earlier versions (JSON plaintext) still reads exactly and rotates into
the tagged float64 format, and the stored bytes hold no plaintext."""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import numpy as np
import pyarrow.dataset as pa_ds
import pytest
from cryptography.hazmat.primitives.ciphers.aead import AESGCM
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.sources.collections import Collection

REPO = Path(__file__).resolve().parent.parent

_LEAK_SCRIPT = textwrap.dedent(
    """
    import json, sys
    from pathlib import Path

    # the package is importable on the driver only: the ciphers and the
    # kernel must reach the Python workers by value
    sys.path.insert(0, sys.argv[4])
    from cyborgdb_encrypted_vector_search_spark.operators import knn
    from cyborgdb_encrypted_vector_search_spark.session import get_spark
    from cyborgdb_encrypted_vector_search_spark.sources.collections import Collection

    work, key, new_key = Path(sys.argv[1]), sys.argv[2], sys.argv[3]
    spark = get_spark(
        app_name="key-leak-check",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    # every frame the calls build: the written rows and the kernel frames
    frames = []
    write, topk = Collection._write, knn.topk_candidates

    def spy_write(self, rows, *args, **kwargs):
        frames.append(rows)
        return write(self, rows, *args, **kwargs)

    def spy_topk(*args, **kwargs):
        frames.append(topk(*args, **kwargs))
        return frames[-1]

    Collection._write, knn.topk_candidates = spy_write, spy_topk
    rows = [(str(i), f"doc {i}", [float(i), 1.0, -2.0, 0.5]) for i in range(40)]
    df = spark.createDataFrame(rows, "id string, document string, embedding array<double>")
    for buckets in (None, 16):
        coll = Collection.create(spark, f"c{buckets}", str(work / "colls"), dim=4, buckets=buckets)
        coll.add_encrypted(df, key, id_col="id")
        for include in (["documents", "distances"], ["distances"]):
            coll.query_encrypted(
                key, query_embeddings=[[3.0, 1.0, -2.0, 0.5]], n_results=3, include=include
            ).collect()
        frames.append(coll.decrypt(key))
        frames[-1].collect()
        rot = coll.rotate_key(key, new_key, str(work / f"rotated{buckets}"))
        frames.append(rot.decrypt(new_key))
        frames[-1].collect()
    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    plans = [utils.explainString(f._jdf.queryExecution(), "extended") for f in frames]
    (work / "plans.json").write_text(json.dumps(plans))
    spark.stop()
    """
)


def _key_forms(key: str) -> list[bytes]:
    raw = key.encode("utf-8")
    return [raw, raw.hex().encode(), raw.hex().upper().encode(), base64.b64encode(raw)]


def test_key_in_no_plan_and_no_event_log(tmp_path):
    """A fresh session with the event log on runs add_encrypted,
    query_encrypted (with and without documents), decrypt and rotate_key
    on the flat and the 16-bucket layouts; neither key, raw, hex or
    base64, is in any call's explain(extended) or any event-log file.
    The workers cannot import the package, so this also runs the
    ciphers and the decode hook as shipped by value."""
    key, new_key = "plan-leak-check-key-0123456789ab", "rotated-key-abcd"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    env.pop("PYTHONPATH", None)
    (tmp_path / "events").mkdir()
    done = subprocess.run(
        [sys.executable, "-c", _LEAK_SCRIPT, str(tmp_path), key, new_key, str(REPO)],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    plans = json.loads((tmp_path / "plans.json").read_text())
    assert len(plans) == 2 * (1 + 2 + 1 + 1 + 1)  # per layout: add, 2 queries, decrypt, rotate + its decrypt
    logs = [p for p in (tmp_path / "events").rglob("*") if p.is_file()]
    assert logs and any(b"SparkListenerSQLExecutionStart" in p.read_bytes() for p in logs)
    for form in _key_forms(key) + _key_forms(new_key):
        for i, plan in enumerate(plans):
            assert form.decode() not in plan, f"key form {form!r} in plan {i}"
        for p in logs:
            assert form not in p.read_bytes(), f"key form {form!r} in {p.name}"


def _fold_cosine(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row with q as the kernel folds it: unit vectors
    from left-fold norms, then a left-fold dot over dims."""
    def unit(v):
        acc = np.zeros(len(v))
        for j in range(v.shape[1]):
            acc += v[:, j] * v[:, j]
        return v / np.sqrt(acc)[:, None]

    u, uq = unit(x), unit(q[None, :])[0]
    acc = np.zeros(len(x))
    for j in range(x.shape[1]):
        acc += u[:, j] * uq[j]
    return acc


@pytest.mark.parametrize("buckets", [None, 4])
def test_json_era_ciphertext_reads_and_rotates(spark, tmp_path, buckets):
    """Rows written the old way (JVM aes_encrypt of to_json) decrypt and
    query bit-exactly, ties by ascending id; rotate_key rewrites them
    into the tagged float64 plaintext."""
    key, new_key = "0123456789abcdef", "aaaabbbbccccdddd"
    rng = np.random.default_rng(12)
    x = rng.normal(size=(30, 6))
    x[17] = x[3]  # an exact tie with the query's own row
    ids = [f"r{i:02d}" for i in range(len(x))]
    docs = [f"legacy doc {i}" for i in range(len(x))]
    plain = spark.createDataFrame(
        list(zip(ids, docs, x.tolist())), "id string, document string, embedding array<double>"
    )
    legacy = plain.select(
        "id",
        F.base64(F.aes_encrypt(F.col("document").cast("binary"), F.lit(key))).alias("document"),
        F.array().cast("array<float>").alias("embedding"),
        F.create_map(
            F.lit("embedding_ct"),
            F.base64(F.aes_encrypt(F.to_json("embedding").cast("binary"), F.lit(key))),
        ).alias("metadata"),
    )
    coll = Collection.create(spark, "legacy", str(tmp_path), dim=6, buckets=buckets)
    coll._write(legacy, coll.path, "append")

    dec = {r["id"]: r for r in coll.decrypt(key).collect()}
    assert sorted(dec) == ids
    for i, rid in enumerate(ids):
        assert dec[rid]["embedding"] == x[i].tolist()
        assert dec[rid]["document"] == docs[i]

    k = 5
    score = _fold_cosine(x, x[3])
    order = sorted(range(len(x)), key=lambda i: (-score[i], ids[i]))[:k]
    want = [(n + 1, ids[i], 1.0 - score[i], docs[i]) for n, i in enumerate(order)]
    got = coll.query_encrypted(key, query_embeddings=[x[3].tolist()], n_results=k).collect()
    got = [(r["rank"], r["id"], r["distance"], r["document"]) for r in sorted(got, key=lambda r: r["rank"])]
    assert got == want
    assert [g[1] for g in got[:2]] == ["r03", "r17"]

    rot = coll.rotate_key(key, new_key, str(tmp_path / "rotated"))
    aes = AESGCM(new_key.encode())
    stored = rot.scan().select("id", F.col("metadata")["embedding_ct"].alias("ct")).collect()
    assert sorted(r["id"] for r in stored) == ids
    for r in stored:
        blob = base64.b64decode(r["ct"])
        pt = aes.decrypt(blob[:12], blob[12:], None)
        assert pt[:1] == b"\x00"
        assert np.frombuffer(pt[1:], "<f8").tolist() == x[ids.index(r["id"])].tolist()


def test_encrypted_parquet_bytes_reveal_nothing(spark, tmp_path):
    """Every parquet file of an encrypted collection, read as bytes,
    holds no float64 (nor float32) encoding of a stored component, no
    vector JSON text and no document text. The same search over a
    plaintext collection of the same rows finds them, so the search
    itself works."""
    rng = np.random.default_rng(5)
    x = rng.normal(size=(20, 8))
    docs = [f"confidential record {i} about patient zebra-{i}" for i in range(len(x))]
    df = spark.createDataFrame(
        [(str(i), docs[i], x[i].tolist()) for i in range(len(x))],
        "id string, document string, embedding array<double>",
    )
    json_text = [r[0].encode() for r in df.select(F.to_json("embedding")).collect()]
    needles = (
        [np.float64(v).tobytes() for v in x.ravel()]
        + [np.float32(v).tobytes() for v in x.ravel()]
        + json_text
        + [d.encode() for d in docs]
    )

    def found(path):
        files = pa_ds.dataset(path, format="parquet", partitioning="hive").files
        assert files
        blob = b"".join(Path(f).read_bytes() for f in files)
        return [n for n in needles if n in blob]

    for buckets in (None, 4):
        enc = Collection.create(spark, f"enc{buckets}", str(tmp_path), dim=8, buckets=buckets)
        enc.add_encrypted(df, "0123456789abcdef", id_col="id")
        assert enc.count() == len(x)
        assert found(enc.path) == []
    plain = Collection.create(spark, "plain", str(tmp_path), dim=8)
    plain.add(df, id_col="id")
    hits = found(plain.path)
    assert any(d.encode() in hits for d in docs)
    assert any(np.float32(v).tobytes() in hits for v in x.ravel())

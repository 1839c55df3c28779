"""Round-5 hardening: the ADVICE.md findings, each pinned by a test.

1. foreachBatch replay idempotency (commit markers).
2. _publish_dir re-raises non-race OSErrors.
3. rotate_key carries plaintext metadata through rotation.
"""

from __future__ import annotations

import os

import pytest

from cyborgdb_encrypted_vector_search_spark.sources.collections import Collection


def test_run_idempotent_batch_skips_committed(tmp_path):
    from cyborgdb_encrypted_vector_search_spark.streaming.ingest import (
        run_idempotent_batch,
    )

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    ran = []
    assert run_idempotent_batch(sink, "tagA", 0, lambda: ran.append("a")) is True
    # replay of the same (stream, batch): action must NOT run again
    assert run_idempotent_batch(sink, "tagA", 0, lambda: ran.append("b")) is False
    # a different batch id / different stream tag both still run
    assert run_idempotent_batch(sink, "tagA", 1, lambda: ran.append("c")) is True
    assert run_idempotent_batch(sink, "tagB", 0, lambda: ran.append("d")) is True
    assert ran == ["a", "c", "d"]
    # marker dir is underscore-prefixed -> invisible to Spark listing
    assert os.path.isdir(os.path.join(sink, "_stream_commits"))


def test_stream_ivf_ingest_replay_does_not_duplicate(spark, tmp_path):
    """End-to-end: after a completed stream run, re-invoking the batch
    sink with the same (checkpoint-derived tag, batch id) — what a
    crash-recovery replay does — appends nothing."""
    from cyborgdb_encrypted_vector_search_spark.operators import ann
    from cyborgdb_encrypted_vector_search_spark.streaming import ingest as I

    src = str(tmp_path / "src")
    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)], i % 2) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.write.parquet(src)
    cent = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [30.0, 1.0])],
        "centroid_id int, centroid array<float>",
    )
    layout = str(tmp_path / "layout")
    ckpt = str(tmp_path / "ckpt")
    stream = I.read_embeddings_stream(spark, src)
    I.stream_append_to_ivf_layout(spark, stream, cent, layout, checkpoint=ckpt)
    n0 = spark.read.parquet(layout).count()
    assert n0 == 40

    # simulate the at-least-once replay of batch 0 for this stream
    tag = I._stream_tag(ckpt)
    ran = I.run_idempotent_batch(
        layout,
        tag,
        0,
        lambda: ann.append_to_ivf_layout(
            emb.select("vec_id", "embedding"), cent, layout
        ),
    )
    assert ran is False
    assert spark.read.parquet(layout).count() == n0


def test_publish_dir_race_vs_real_error(tmp_path):
    from cyborgdb_encrypted_vector_search_spark.plans.catalog import _publish_dir

    # lost-the-race: final exists non-empty -> swallowed, tmp discarded
    tmp = tmp_path / "build.tmp"
    tmp.mkdir()
    (tmp / "part").write_text("x")
    final = tmp_path / "final"
    final.mkdir()
    (final / "part").write_text("winner")
    _publish_dir(str(tmp), str(final))
    assert not tmp.exists()
    assert (final / "part").read_text() == "winner"

    # real failure (missing parent -> ENOENT) must re-raise, not vanish
    tmp2 = tmp_path / "build2.tmp"
    tmp2.mkdir()
    with pytest.raises(OSError):
        _publish_dir(str(tmp2), str(tmp_path / "no" / "such" / "parent"))
    assert tmp2.exists()  # the artifact is preserved for inspection


def test_rotate_key_carries_plaintext_metadata(spark, tmp_path):
    old_key, new_key = "0123456789abcdef", "aaaabbbbccccdddd"
    src = Collection.create(spark, "rot_meta", str(tmp_path / "src"))
    df = spark.createDataFrame(
        [
            (1, "alpha secret", [1.0, 2.0], {"source": "demo", "lang": "en"}),
            (2, "beta secret", [3.0, 4.0], {"source": "web"}),
        ],
        "doc_id long, document string, embedding array<double>, "
        "metadata map<string,string>",
    )
    src.add_encrypted(df, old_key, id_col="doc_id", metadata_col="metadata")

    # stored plaintext metadata sits beside the ciphertext entry
    stored = {r["id"]: r["metadata"] for r in src.scan().collect()}
    assert stored["1"]["source"] == "demo"
    assert "embedding_ct" in stored["1"]

    rot = src.rotate_key(old_key, new_key, str(tmp_path / "dst"))
    rdec = {r["id"]: r for r in rot.decrypt(new_key).collect()}
    assert rdec["1"]["document"] == "alpha secret"
    assert rdec["1"]["metadata"] == {"source": "demo", "lang": "en"}
    assert rdec["2"]["metadata"] == {"source": "web"}
    # the rotated store's ciphertext entry is fresh, not carried over
    old_ct = {r["id"]: r["embedding_ct"] for r in src.extract_encrypted().collect()}
    new_ct = {r["id"]: r["embedding_ct"] for r in rot.extract_encrypted().collect()}
    assert all(old_ct[k] != new_ct[k] for k in old_ct)

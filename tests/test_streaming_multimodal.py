"""Streaming ingest + multimodal plumbing tests."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.operators import multimodal as M
from cyborgdb_encrypted_vector_search_spark.sources.registry import load
from cyborgdb_encrypted_vector_search_spark.streaming import ingest as S


def test_stream_counts_equal_batch(spark, sf_dir):
    stream = S.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    got = S.run_stream_to_batch(spark, S.hourly_event_counts(stream))
    batch = S.hourly_event_counts(load(spark, "events", sf_dir))
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_stream_append_to_collection(spark, sf_dir):
    with tempfile.TemporaryDirectory() as tmp:
        dest = os.path.join(tmp, "ingested")
        ckpt = os.path.join(tmp, "ckpt")
        S.stream_append_to_collection(
            spark, os.path.join(sf_dir, "events.parquet"), dest, ckpt
        )
        n = spark.read.parquet(dest).count()
        assert n == load(spark, "events", sf_dir).count()


def test_watermark_drops_late_data(spark, tmp_path):
    """Late rows beyond the watermark are dropped from the windowed agg:
    batch 1 advances the watermark past midnight; batch 2's 00:30 event
    must not create a 00:00 window."""
    import time

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "out")

    def run():
        # parquet sink (memory sink cannot recover from a checkpoint);
        # append mode emits a window once the watermark passes its end
        stream = spark.readStream.schema(schema).parquet(src)
        agg = S.hourly_event_counts(stream, watermark="30 minutes")
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    import datetime as dt

    # run 1: on-time data advances the watermark to 11:20 - 0:30 = 10:50
    write_batch(
        [
            (1, dt.datetime(2024, 1, 1, 10, 5), 1, "click", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 11, 20), 1, "click", 1.0, "{}"),
        ]
    )
    run()
    # run 2 (same checkpoint -> watermark persisted): a 00:30 event is
    # hours behind the watermark and must be dropped
    write_batch([(3, dt.datetime(2024, 1, 1, 0, 30), 1, "click", 1.0, "{}")])
    got = run()
    windows = {r["window_start"] for r in got.collect()}
    assert "2024-01-01 00:00:00" not in windows  # late row dropped
    # on-time 10:00 window closed (end 11:00 <= watermark 10:50 is false;
    # it closes once watermark passes 11:00 — emitted only when a later
    # run advances it; what matters here is the late drop)


def test_multimodal_decode_real_both_paths():
    # r9: image decode is REAL (pure-Python BMP codec — a PNG payload
    # is rejected as not-a-BMP, not NotImplementedError); r10: video
    # demux is REAL too (pure-Python RIFF/AVI walk — a non-RIFF
    # payload is rejected loudly, not NotImplementedError; roundtrip
    # and malformation coverage in tests/test_round10.py).
    with pytest.raises(ValueError, match="BM magic"):
        M.decode_image(b"\x89PNG" + b"\x00" * 60)
    with pytest.raises(ValueError, match="RIFF"):
        M.sample_frames(b"\x00")


def test_multimodal_feature_extraction(spark):
    import hashlib

    df = spark.createDataFrame(
        [(1, "text", bytearray(b"abc"), None), (2, "text", None, None)],
        M.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in M.extract_features(df).collect()}
    assert feats[1]["n_bytes"] == 3
    assert feats[1]["digest"] == hashlib.md5(b"abc").hexdigest()
    assert feats[1]["mean_byte"] == pytest.approx((97 + 98 + 99) / 3)
    assert feats[2]["n_bytes"] == 0 and feats[2]["mean_byte"] == 0.0


def test_media_schema_roundtrip(spark, sf_dir):
    docs = load(spark, "documents", sf_dir).limit(20)
    media = M.documents_as_media(docs)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "payload", "meta",
    ]
    assert media.schema["payload"].dataType.typeName() == "binary"
    assert M.extract_features(media).count() == 20


def test_stream_interval_join_equals_batch(spark, sf_dir):
    src = os.path.join(sf_dir, "events.parquet")

    def split(ev):
        return (
            ev.filter(F.col("event_type") == "purchase"),
            ev.filter(F.col("event_type") == "click"),
        )

    sp, sc = split(S.read_events_stream(spark, src))
    got = S.run_stream_to_batch(
        spark, S.stream_interval_join(sp, sc), output_mode="append"
    )
    bp, bc = split(load(spark, "events", sf_dir))
    batch = S.stream_interval_join(bp, bc)
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_stream_incremental_dedup_equals_batch(spark, sf_dir):
    """The streaming continuous-ingest dedup (banded micro-batches vs
    the persisted corpus index, exactly-once pair emission) must
    produce the identical pair set as the batch incremental path."""
    from cyborgdb_encrypted_vector_search_spark.plans.catalog import entries

    cat = entries()
    s = {
        (r["batch_id"], r["base_id"])
        for r in cat["streaming_incremental_dedup"].fn(spark, sf_dir).collect()
    }
    b = {
        (r["batch_id"], r["base_id"])
        for r in cat["dedup_incremental_minhash"].fn(spark, sf_dir).collect()
    }
    assert s == b
    assert len(s) > 0


def test_stream_embed_ingest_equals_batch(spark, sf_dir, tmp_path):
    """Continuous embedding ingest: stream documents -> Arrow-batched
    embed UDF (D1) inside the streaming dataflow -> foreachBatch append
    into a Parquet collection. The stored vectors must equal the batch
    embedding of the same texts — the D1 seam works identically under
    micro-batch execution."""
    import os

    import numpy as np

    from cyborgdb_encrypted_vector_search_spark.functions.embed import (
        embed_text,
        make_embed_udf,
    )
    from cyborgdb_encrypted_vector_search_spark.streaming import ingest as S

    stream = S.read_documents_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    udf = make_embed_udf(16)
    embedded = stream.select(
        "doc_id", "text", udf("text").alias("embedding")
    )
    dest = str(tmp_path / "emb_coll")
    ckpt = str(tmp_path / "ckpt")
    q = (
        embedded.writeStream.foreachBatch(
            lambda df, _id: df.write.mode("append").parquet(dest)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stored = {
        r["doc_id"]: (r["text"], r["embedding"])
        for r in spark.read.parquet(dest).collect()
    }
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert len(stored) == docs.count()
    for doc_id, (text, emb) in list(stored.items())[:25]:
        assert np.allclose(emb, embed_text(text, 16), atol=1e-12)


def test_stream_incremental_dedup_ttl_state_equals_exact(spark, sf_dir):
    """The bounded-state production path (dedup_state_ttl -> ingest-time
    watermark + dropDuplicatesWithinWatermark) must emit the same pair
    set as the exact unbounded-state path on a finite run — the TTL
    only changes state lifetime, not which pairs exist."""
    import os

    from cyborgdb_encrypted_vector_search_spark.plans.catalog import entries
    from cyborgdb_encrypted_vector_search_spark.sources.registry import (
        minhash_band_index,
    )
    from cyborgdb_encrypted_vector_search_spark.streaming import ingest as S

    stream = S.read_documents_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    incoming = stream.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz qq ww")).alias("text"),
    )
    pairs = S.stream_incremental_dedup(
        incoming,
        minhash_band_index(spark, sf_dir),
        dedup_state_ttl="1 hour",
    )
    got = {
        (r["batch_id"], r["base_id"])
        for r in S.run_stream_to_batch(
            spark, pairs, output_mode="append"
        ).collect()
    }
    cat = entries()
    exact = {
        (r["batch_id"], r["base_id"])
        for r in cat["streaming_incremental_dedup"].fn(spark, sf_dir).collect()
    }
    assert got == exact
    assert len(got) > 0


def test_frame_sampling_fanout_and_demuxer_seam(spark):
    """sample_frame_chunks is the video path's 1→N plumbing: the
    deterministic chunker windows payloads (every_n keeps original
    frame_idx for timestamp alignment), and a custom demuxer plugs
    into the same dataflow unchanged."""
    rows = [
        (1, "video", b"a" * 200, None),   # 4 chunks of 64 -> idx 0 kept...
        (2, "video", b"xy", None),        # 1 chunk -> idx 0
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.sample_frame_chunks(media, frame_bytes=64, every_n=2).collect()
    got = {(r["media_id"], r["frame_idx"]): bytes(r["frame"]) for r in out}
    # media 1: 200 bytes -> chunks 0..3, every 2nd -> idx 0 (64B), idx 2 (64B)
    assert set(got) == {(1, 0), (1, 2), (2, 0)}
    assert got[(1, 0)] == b"a" * 64 and got[(1, 2)] == b"a" * 64
    assert got[(2, 0)] == b"xy"

    # r10: NULL payloads are rejected loudly (the decode stages'
    # contract) — missing media must not vanish from a frame count
    null_media = spark.createDataFrame(
        [(3, "video", None, None)], M.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NULL payload"):
        M.sample_frame_chunks(null_media, frame_bytes=64).collect()

    # the real-decoder seam: a demuxer yielding 3 fake "frames";
    # every_n=2 keeps positions 0 and 2
    demux = lambda payload: [b"F0", b"F1", b"F2"]
    out2 = M.sample_frame_chunks(media.filter("media_id = 2"), every_n=2, demuxer=demux).collect()
    assert {(r["frame_idx"], bytes(r["frame"])) for r in out2} == {(0, b"F0"), (2, b"F2")}


def test_stream_upsert_requires_bucketed_collection(spark, tmp_path):
    from cyborgdb_encrypted_vector_search_spark.sources.collections import (
        Collection,
    )
    from cyborgdb_encrypted_vector_search_spark.streaming import ingest as S

    flat = Collection.create(spark, "flat_up", str(tmp_path), dim=2)
    with pytest.raises(ValueError, match="bucket-partitioned"):
        S.stream_upsert_documents(spark, str(tmp_path / "src"), flat)

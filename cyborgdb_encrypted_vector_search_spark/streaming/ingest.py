"""Structured Streaming ingest for event-shaped data.

The reference is pure batch (SURVEY.md §2.10 — no streaming anywhere);
this is the north-star generalization: micro-batch ingest of the
``events`` table shape with watermarked windowed aggregation and
session windows. The transformation functions are shared between batch
and streaming DataFrames — the Dataflow-model promise that a streaming
query over finite input equals the batch query — and the correctness
gate exploits exactly that (streaming result == DuckDB batch oracle).

Scale notes: windowed counts are partial-aggregated per micro-batch and
stored in the state store keyed by (window, event_type) — state size is
O(open windows x types), not O(events). The watermark bounds state
eviction and late-data acceptance.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# events.parquet stores TIMESTAMP(NANOS); Spark reads that as
# TIMESTAMP_NTZ (nanos truncated to micros — TESTDATA values are
# micro-aligned, so lossless), same as the batch path via
# registry.load. Declaring LONG here instead would surface MICROS (not
# nanos) and silently collapse every timestamp to 1970 after a ÷1000.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """readStream over the events parquet directory (file source —
    production swaps in Kafka with the same downstream lineage)."""
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA).format("parquet")
    # The file source requires a directory; a single-file path becomes
    # parent dir + glob filter.
    if src_dir.endswith(".parquet") and not os.path.isdir(src_dir):
        reader = reader.option(
            "pathGlobFilter", os.path.basename(src_dir)
        )
        src_dir = os.path.dirname(src_dir)
    raw = reader.load(src_dir)
    # Watermarks/event-time require TIMESTAMP (LTZ). Rebuild the
    # instant from NTZ wall-clock micros with integer math — an NTZ→
    # TIMESTAMP *cast* would shift by the session timezone; this is
    # exact in any session (UTC wall clock == the instant).
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    return raw.withColumn("ts", F.timestamp_micros(us))


DOCUMENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over the documents parquet directory — the
    continuous-ingest corpus source (production: Kafka/object-store
    notifications with the same downstream lineage).
    ``max_files_per_trigger`` caps each micro-batch."""
    reader = spark.readStream.schema(DOCUMENTS_RAW_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if src_dir.endswith(".parquet") and not os.path.isdir(src_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(src_dir))
        src_dir = os.path.dirname(src_dir)
    return reader.load(src_dir)


EMBEDDINGS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def read_embeddings_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over an embeddings parquet directory — the vector
    arrival stream feeding continuous index maintenance.
    ``max_files_per_trigger`` caps each micro-batch (production knob
    for bounding per-batch index-append work)."""
    reader = spark.readStream.schema(EMBEDDINGS_RAW_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if src_dir.endswith(".parquet") and not os.path.isdir(src_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(src_dir))
        src_dir = os.path.dirname(src_dir)
    return reader.load(src_dir)


def run_idempotent_batch(sink_path: str, stream_tag: str, batch_id: int, action) -> bool:
    """Run ``action()`` for one foreachBatch invocation unless this
    (stream, batch) was already committed to the sink.

    foreachBatch is AT-LEAST-ONCE: after a crash, Structured Streaming
    replays the last in-flight batch with the same ``batch_id``.  A
    plain parquet append would duplicate that batch's rows; here a
    commit marker ``<sink>/_stream_commits/<tag>-<id>`` is written
    after the append succeeds and checked before each run, so the
    normal replay path (batch re-runs because the checkpoint did not
    record completion) is a no-op.  The residual window — a crash
    between the data commit and the marker write — is the gap a
    transactional table format (Delta/Iceberg txn log) closes in
    production; with raw parquet it means a replayed batch can still
    duplicate if the crash lands exactly between the two writes.
    ``stream_tag`` (derived from the checkpoint location) keeps batch
    ids from independent streams appending into the same sink from
    colliding.  The ``_``-prefixed marker dir is invisible to Spark's
    file listing, so readers of the sink never see it.

    Returns True if the action ran, False if the batch was skipped."""
    commit_dir = os.path.join(sink_path, "_stream_commits")
    marker = os.path.join(commit_dir, f"{stream_tag}-{batch_id}")
    if os.path.exists(marker):
        return False
    action()
    os.makedirs(commit_dir, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("committed\n")
    return True


def _stream_tag(checkpoint_path: str) -> str:
    """Stable short tag for one logical stream (its checkpoint dir)."""
    import hashlib

    return hashlib.md5(checkpoint_path.encode()).hexdigest()[:12]


def stream_append_to_ivf_layout(
    spark: SparkSession,
    stream: DataFrame,
    centroids: DataFrame,
    layout_path: str,
    checkpoint: str | None = None,
) -> None:
    """Continuous ANN index ingest: every micro-batch of arriving
    vectors is assigned to the FIXED centroids and appended under the
    touched ``centroid_id=`` partitions
    (operators/ann.append_to_ivf_layout) via ``foreachBatch``.

    This closes the 100 TB ingestion loop streaming-side: per-batch
    work is O(batch) (one broadcast argmin + a partitioned append),
    the resident index is never rewritten or reshuffled, and the layout
    is probe-able between batches with the same partition-pruned plan.
    Delivery: foreachBatch is at-least-once; the sink records a
    per-batch commit marker (run_idempotent_batch) so checkpointed
    crash-recovery replays skip batches whose append already committed
    — duplicates survive only a crash in the narrow window between the
    parquet append and the marker write (see run_idempotent_batch for
    the transactional-format production answer). Compaction
    (layout.compact_partitioned_layout over ``centroid_id``) bounds the
    small files appends leave behind; centroid refresh stays a batch
    rebuild decision."""
    from cyborgdb_encrypted_vector_search_spark.operators import ann as A

    name = f"ivf_ingest_{uuid.uuid4().hex[:8]}"
    ckpt = checkpoint or os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    tag = _stream_tag(ckpt)

    def append_batch(batch: DataFrame, batch_id: int) -> None:
        run_idempotent_batch(
            layout_path,
            tag,
            batch_id,
            lambda: A.append_to_ivf_layout(
                batch.select("vec_id", "embedding"), centroids, layout_path
            ),
        )

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_incremental_dedup(
    incoming: DataFrame,
    corpus_band_index: DataFrame,
    shingle_len: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
    dedup_state_ttl: str | None = None,
) -> DataFrame:
    """Continuous-ingest near-dup detection: per micro-batch, band the
    INCOMING docs (stateless column expressions — shingle → MinHash →
    LSH bands work identically on a streaming frame) and hash-join the
    PERSISTED corpus band index; emit (batch_id, base_id) candidate
    pairs, deduped across band collisions with the streaming
    dropDuplicates state store.

    The scale contract matches the batch incremental path
    (dedup.incremental_lsh_matches): per-batch cost is O(batch +
    matched index partitions), never O(corpus²), and the corpus is
    never re-shingled — the signature index is built once per corpus
    version and re-read. Streaming adds exactly-once pair emission
    across micro-batches (the dedup state), which is what a continuous
    ingest pipeline needs so a doc arriving in two files doesn't
    double-report.

    State-store lifetime: with ``dedup_state_ttl=None`` the pair-dedup
    state is EXACT but unbounded — correct for finite availableNow gate
    runs, NOT for an always-on deployment. Production continuous ingest
    must pass a TTL (e.g. ``"24 hours"``): pairs then dedup via
    ``dropDuplicatesWithinWatermark`` over an ingest-time watermark, so
    state is bounded by the TTL window and a re-arriving doc only
    double-reports if its copies land further apart than the TTL."""
    from cyborgdb_encrypted_vector_search_spark.operators import dedup as D

    # The file stream hands each micro-batch over with one partition
    # per input file; banding (shingle -> H minhashes per doc) is the
    # expensive stage, so spread the batch across the executors first.
    # One narrow O(B) shuffle per batch — at cluster scale the source
    # (Kafka partitions / many files) already arrives parallel and this
    # becomes a cheap rebalance.
    src = incoming.select("doc_id", "text").repartition(
        incoming.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    banded = D.band_index(
        src,
        "doc_id",
        "text",
        shingle_len,
        num_hashes,
        num_bands,
    )
    base = corpus_band_index.select(
        F.col("doc_id").alias("base_id"), "band"
    )
    # Broadcast the BATCH side (same orientation as the batch
    # incremental path, dedup.incremental_lsh_matches): the corpus
    # index is the side that grows without bound, so it must stay
    # partitioned — each micro-batch ships only its own O(B·bands)
    # banded rows to the executors scanning the index.
    pairs = base.join(F.broadcast(banded), "band").select(
        F.col("doc_id").alias("batch_id"), "base_id"
    )
    if dedup_state_ttl is None:
        return pairs.dropDuplicates(["batch_id", "base_id"])
    return (
        pairs.withColumn("__ingest_ts", F.current_timestamp())
        .withWatermark("__ingest_ts", dedup_state_ttl)
        .dropDuplicatesWithinWatermark(["batch_id", "base_id"])
        .drop("__ingest_ts")
    )


def hourly_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour windowed counts per event_type; works identically
    on batch and streaming inputs (streaming adds the watermark)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_stream_to_batch(
    spark: SparkSession,
    streaming_df: DataFrame,
    output_mode: str = "complete",
    checkpoint: str | None = None,
) -> DataFrame:
    """Execute a streaming aggregation over the finite source with an
    availableNow trigger into a memory sink; return the final result as
    a batch DataFrame. This is the bridge the correctness gate uses to
    compare streaming semantics against the batch oracle.

    Pass an explicit ``checkpoint`` to resume across calls — watermark
    and state persist, so a second run sees only NEW files with the
    prior run's watermark active (how the late-data test works).
    """
    name = f"stream_result_{uuid.uuid4().hex[:8]}"
    ckpt = checkpoint or os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_append_to_collection(
    spark: SparkSession,
    src_dir: str,
    dest_path: str,
    checkpoint: str,
) -> None:
    """Micro-batch ingest: stream events into a Parquet collection via
    foreachBatch append (SURVEY.md §7 step 9 — the readStream →
    foreachBatch append pattern)."""
    stream = read_events_stream(spark, src_dir)

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(dest_path)

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_ingest_documents_embedded(
    spark: SparkSession,
    src_dir: str,
    collection,
    dim: int = 64,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous corpus ingest with EMBEDDING-AT-INGEST: the
    documents stream flows through the D1 Arrow-batched embed UDF
    (functions/embed.make_embed_udf — the model loads once per worker
    process and is amortized across every micro-batch, exactly as in
    batch) and each micro-batch appends into the vector collection.
    This is the reference's main.py pipeline (read → embed → store,
    src/main.py:11-16) promoted to a continuously-running job: new
    corpus files become searchable collection rows with no batch
    rebuild. Delivery matches stream_append_to_ivf_layout:
    at-least-once foreachBatch with per-batch commit markers
    (run_idempotent_batch), so checkpointed replays of an
    already-committed batch skip instead of double-adding."""
    from cyborgdb_encrypted_vector_search_spark.functions import embed as E

    stream = read_documents_stream(spark, src_dir, max_files_per_trigger)

    udf = E.make_embed_udf(dim)
    enriched = stream.select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("text").alias("document"),
        udf(F.col("text")).cast("array<float>").alias("embedding"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("metadata"),
    )

    name = f"coll_ingest_{uuid.uuid4().hex[:8]}"
    ckpt = checkpoint or os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    tag = _stream_tag(ckpt)

    def append_batch(batch: DataFrame, batch_id: int) -> None:
        run_idempotent_batch(
            collection.path,
            tag,
            batch_id,
            lambda: collection.add(batch, id_col="id", metadata_col="metadata"),
        )

    q = (
        enriched.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count via
    applyInPandasWithState — the 'arbitrary user-managed state' API
    (the shape a custom online aggregate / dedup-by-key / CEP operator
    takes when the built-in aggregations can't express it).

    Emits (user_id, n_events) on every update; over a finite stream the
    max per user equals the batch GROUP BY count (the gate's claim).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("count", T.LongType())])

    def update(key, pdfs, state: GroupState):
        new = sum(len(pdf) for pdf in pdfs)
        (count,) = state.get if state.exists else (0,)
        count += new
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding ``within`` window.

    Both sides are watermarked so the state store can evict: a click
    can only match purchases up to ``within`` later, so once the
    purchase-side watermark passes ``click.ts + within`` the click's
    state is droppable — the time-bound in the join condition is what
    makes unbounded stream-stream state finite. Works identically on
    batch inputs (watermarks are no-ops there), which is how the test
    pins stream==batch semantics.
    """
    p = purchases.select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    if clicks.isStreaming:
        c = c.withWatermark("c_ts", watermark)
    return p.join(
        c,
        (p["p_user"] == c["c_user"])
        & (c["c_ts"] >= p["p_ts"] - F.expr(f"INTERVAL {within}"))
        & (c["c_ts"] < p["p_ts"]),
        "inner",
    ).select("p_id", "c_id", "p_user", "p_ts", "c_ts")


def stream_upsert_documents(
    spark: SparkSession,
    src_dir: str,
    collection,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous UPSERT ingest: each micro-batch of arriving documents
    is upserted by id into a bucket-partitioned collection — the
    continuous dedup-by-key pipeline (CDC-style: a re-delivered or
    updated record REPLACES its previous version instead of appending a
    duplicate). Composes the round-5 pieces end to end: per-batch cost
    is O(batch + touched buckets) (Collection.upsert rewrites only the
    id_bucket dirs the batch hashes into — the resident collection is
    never rescanned), and the idempotent commit markers
    (run_idempotent_batch) keep crash-recovery replays from re-applying
    a committed batch. Requires a bucketed collection: a flat layout
    would pay a full-table rewrite per micro-batch."""
    if not collection.bucket_count:
        raise ValueError(
            "stream_upsert_documents requires a bucket-partitioned "
            "collection (create with buckets=N) — per-batch upsert "
            "into a flat layout is a full-table rewrite"
        )
    stream = read_documents_stream(spark, src_dir, max_files_per_trigger)
    rows = stream.select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("text").alias("document"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("metadata"),
    )
    name = f"coll_upsert_{uuid.uuid4().hex[:8]}"
    ckpt = checkpoint or os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    tag = _stream_tag(ckpt)

    def upsert_batch(batch: DataFrame, batch_id: int) -> None:
        run_idempotent_batch(
            collection.path,
            tag,
            batch_id,
            lambda: collection.upsert(
                batch, id_col="id", metadata_col="metadata"
            ),
        )

    q = (
        rows.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_append_to_postings(
    spark: SparkSession,
    stream: DataFrame,
    index_path: str,
    checkpoint: str | None = None,
) -> None:
    """Continuous SPARSE-index ingest: every micro-batch of arriving
    documents is tokenized and its postings appended under the touched
    ``term_bucket=`` partitions (operators/retrieval.append_postings)
    via ``foreachBatch`` — the inverted-index twin of
    stream_append_to_ivf_layout. Per-batch work is O(batch) (tokenize
    the batch, partitioned append, one mergeable stats row); resident
    postings are never read or rewritten, and the index is BM25-
    probe-able between batches with the same partition-pruned plan.
    Delivery matches the other sinks: at-least-once foreachBatch with
    per-batch commit markers (run_idempotent_batch), so checkpointed
    replays of an already-committed batch skip instead of
    double-appending."""
    from cyborgdb_encrypted_vector_search_spark.operators import retrieval as R

    name = f"postings_ingest_{uuid.uuid4().hex[:8]}"
    ckpt = checkpoint or os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    tag = _stream_tag(ckpt)

    def append_batch(batch: DataFrame, batch_id: int) -> None:
        run_idempotent_batch(
            index_path,
            tag,
            batch_id,
            lambda: R.append_postings(batch, "doc_id", "text", index_path),
        )

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

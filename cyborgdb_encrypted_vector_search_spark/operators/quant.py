"""Scalar quantization (SQ8) for vector search at scale.

The third compression point on the ANN ladder this engine offers
(alongside IVF partition pruning, operators/ann.py, and product
quantization, operators/pq.py): each float32 dimension is quantized to
one byte against per-dimension [min, max] bounds learned from the
corpus. The FAISS ``SQ8`` lineage — 4x smaller than float32 with far
less training machinery than PQ (no codebooks, just a per-dimension
range), and a much tighter approximation than PQ at the same scan
cost, which makes it the default "fits-in-half-the-IO" index choice.

Spark shape (train and encode are JVM-side, no UDF; search runs the
one kNN kernel of ``operators/knn.py`` through ``ann.kernel_search``):

- train:  per-dimension min/max — ``posexplode`` + groupBy(dim) with
          map-side partial agg, so the shuffle carries O(partitions x
          dim) rows, never O(rows x dim); the resulting 2 x dim bounds
          are a driver-side literal (like PQ codebooks / IVF
          centroids).
- encode: one ``transform`` over the UNIT vector (quantizing the
          l2-normalized projection makes the quantized dot product a
          direct cosine approximation) with the bounds folded in as
          literal arrays — a single codegen'd projection.
- search: the kernel's decode hook reconstructs each row from its
          codes inside the scoring stage,

              x̂_i = min_i + code_i * scale_i

          (every dimension a one-dimensional book of 256 levels,
          ``knn.decode_codes``), and scores x̂ by cosine against the
          queries. The approximate pass reads ONLY the codes column
          (64 B/row at dim=64 vs 256 B float32) — and on the IVF+SQ8
          layout only the probed ``centroid_id`` partitions, each row
          against just the queries that probed its list. Each query's
          ``oversample*k`` shortlist is merged on the driver and
          re-ranked exactly by a second pass of the same kernel over
          the full-precision column, behind a pushed ``id IN (...)``
          scan predicate — the embedding column is read for the
          shortlist's row groups only. Single-query searches are the
          batch path with one query; no join, window or shuffle
          anywhere.

No counterpart in the reference (it delegates ANN to ChromaDB's HNSW,
src/chromadb_store.py:1); public design per FAISS's ScalarQuantizer.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import ann as A
from cyborgdb_encrypted_vector_search_spark.operators import knn


def sq8_train(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension [min, max] bounds over the UNIT projection of
    ``vec_col``. One narrow shuffle: posexplode to (dim, value) with
    map-side partial min/max, final agg is ``dim`` rows, collected to
    the driver (2 x dim floats — index metadata, like centroids)."""
    unit = V.with_unit_vectors(
        df.select(vec_col), vec_col, unit_col="__u", norm_col="__n"
    )
    rows = (
        unit.select(F.posexplode("__u").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("dim")
        .collect()
    )
    mins = [float(r["lo"]) for r in rows]
    maxs = [float(r["hi"]) for r in rows]
    return mins, maxs


def _scales(mins: list[float], maxs: list[float]) -> list[float]:
    # degenerate dimensions (constant value) quantize to code 0 with
    # scale 0 — decode reproduces the constant exactly
    return [(hi - lo) / 255.0 for lo, hi in zip(mins, maxs)]


def sq8_encode(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    vec_col: str = "embedding",
    code_col: str = "codes",
) -> DataFrame:
    """Quantize the unit projection of ``vec_col`` to per-dimension
    byte codes (0..255, stored ``array<int>``; pack to BINARY at the
    storage layer if the extra 4x matters). Pure codegen projection —
    bounds are literal arrays, no UDF, no shuffle."""
    scales = _scales(mins, maxs)
    lo = F.lit(mins)
    inv = F.lit([0.0 if s == 0.0 else 1.0 / s for s in scales])
    unit = V.l2_normalize(vec_col)
    codes = F.transform(
        unit,
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (x - F.element_at(lo, i + F.lit(1)))
                    * F.element_at(inv, i + F.lit(1))
                ).cast("int"),
            ),
        ),
    )
    return df.withColumn(code_col, codes)


def _sq8_decoder(mins: list[float], maxs: list[float], code_col: str):
    """The SQ8 decode hook (:func:`knn.decode_codes`): dimension j is
    its own one-dimensional book of 256 levels, x̂_j = min_j + code_j *
    scale_j."""
    books = np.asarray(mins)[:, None] + np.outer(_scales(mins, maxs), np.arange(256.0))
    return functools.partial(knn.decode_codes, books=books[:, :, None], code_col=code_col)


def _search(
    encoded: DataFrame,
    centroids: DataFrame | None,
    mins: list[float],
    maxs: list[float],
    queries: tuple,
    k: int,
    nprobe: int,
    oversample: int,
    id_col: str,
    code_col: str = "codes",
    vec_col: str = "embedding",
    qid_col: str | None = None,
) -> DataFrame:
    """Every SQ8 search (:func:`ann.kernel_search`): the approximate
    pass scores the decoded codes by cosine, reading only (id, codes,
    centroid_id); each query's ``oversample*k`` shortlist is re-ranked
    exactly from ``vec_col``. With ``centroids`` (IVF+SQ8) both passes
    see only the probed lists. A local frame of (qid_col, id, score),
    or (id, score, approx_score) for a single query (no ``qid_col``)."""
    probes, full = None, encoded
    if centroids is not None:
        _, _, lists = A.probe_lists(centroids, queries[1], nprobe)
        probes = ("centroid_id", lists)
        full = encoded.filter(F.col("centroid_id").isin(sorted({c for ls in lists for c in ls})))
    cols = [id_col, code_col] + (["centroid_id"] if probes else [])
    hits = A.kernel_search(
        encoded.select(*cols), queries, k, "cosine", id_col, vec_col,
        probes=probes, decode=_sq8_decoder(mins, maxs, code_col),
        rerank=full, shortlist=oversample * k,
    )
    if qid_col is None:
        return A.result_frame(encoded.sparkSession, hits, [id_col, "score", "approx_score"])
    return A.result_frame(encoded.sparkSession, hits, [qid_col, id_col, "score"], qid_col)


def sq8_search(
    encoded: DataFrame,
    mins: list[float],
    maxs: list[float],
    target,
    k: int = 10,
    oversample: int = 8,
    code_col: str = "codes",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by approximate quantized cosine, re-ranked exact:
    :func:`sq8_batch_search` with one query. Returns a local frame of
    (id, score, approx_score), best first. Stage 1 reads only the
    codes column; stage 2 pushes the shortlist ids into the
    full-precision scan (``id IN``), so the embedding column is read
    for the shortlist's row groups only, never full-scanned."""
    return _search(
        encoded, None, mins, maxs, A.one_query(target), k, 0, oversample,
        id_col, code_col, vec_col,
    )


def sq8_batch_search(
    encoded: DataFrame,
    mins: list[float],
    maxs: list[float],
    queries: DataFrame,
    k: int = 10,
    oversample: int = 8,
    code_col: str = "codes",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """All queries in one approximate corpus pass over the codes, then
    one exact re-rank pass over the shortlists' union (see
    :func:`_search`). Returns a local frame of (qid, id, score).
    Jobs: the query collect (none for a local frame) and two kernel
    passes."""
    return _search(
        encoded, None, mins, maxs,
        A.collect_queries(queries, query_id_col, query_vec_col), k, 0,
        oversample, id_col, code_col, vec_col, query_id_col,
    )


def build_ivfsq_layout(
    df: DataFrame,
    centroids: DataFrame,
    mins: list[float],
    maxs: list[float],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the composed IVF+SQ8 index (FAISS ``IVFx,SQ8``):
    rows assigned to their nearest centroid and byte-encoded, written
    partitioned by ``centroid_id``. A probe query then combines BOTH
    compressions: partition pruning skips the unprobed inverted lists
    entirely, and the approximate pass inside the probed lists reads
    only the 4x-smaller codes column. The full-precision vector rides
    along in the same partition for the exact re-rank, touched for
    just the shortlist."""
    assigned = A.assign_centroids(df, centroids, vec_col)
    enc = sq8_encode(assigned, mins, maxs, vec_col=vec_col)
    enc.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivfsq_search(
    layout: DataFrame,
    centroids: DataFrame,
    mins: list[float],
    maxs: list[float],
    target,
    k: int = 10,
    nprobe: int = 4,
    oversample: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF+SQ8 probe search: :func:`ivfsq_search_batch` with one query,
    returning :func:`sq8_search`'s columns. ``centroid_id IN (...)``
    is a PartitionFilter on a materialized layout, so unprobed lists
    cost zero IO in both passes."""
    return _search(
        layout, centroids, mins, maxs, A.one_query(target), k, nprobe,
        oversample, id_col,
    )


def ivfsq_search_batch(
    layout: DataFrame,
    centroids: DataFrame,
    mins: list[float],
    maxs: list[float],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    oversample: int = 8,
    id_col: str = "vec_id",
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Batch IVF+SQ8 over the compressed layout: probes picked on the
    driver, one approximate pass over the probed lists' codes (a code
    row scored only against the queries that probed its list), one
    exact re-rank pass over the probed partitions' shortlisted ids.
    Returns a local frame of (qid, id, score). Jobs: the query and
    centroid collects (none for local frames) and two kernel passes."""
    return _search(
        layout, centroids, mins, maxs,
        A.collect_queries(queries, query_id_col, query_vec_col), k, nprobe,
        oversample, id_col, qid_col=query_id_col,
    )


def append_to_ivfsq_layout(
    df: DataFrame,
    centroids: DataFrame,
    mins: list[float],
    maxs: list[float],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance of the compressed index: assign ONLY
    the new batch to the fixed centroids, byte-encode it with the
    FIXED corpus bounds, and append under the touched ``centroid_id=``
    directories — O(batch) ingest for the IVF+SQ8 layout, same
    contract as ann.append_to_ivf_layout. Bounds stay fixed between
    rebuilds (like centroids): a drifting distribution that escapes
    the trained [min,max] only saturates codes 0/255 for the escaping
    dimensions — quantization degrades gracefully and the exact
    re-rank still corrects the shortlist; persistent saturation is a
    rebuild trigger, not an append concern."""
    assigned = A.assign_centroids(df, centroids, vec_col)
    enc = sq8_encode(assigned, mins, maxs, vec_col=vec_col)
    enc.write.mode("append").partitionBy("centroid_id").parquet(path)

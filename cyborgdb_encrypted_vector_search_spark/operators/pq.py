"""Product quantization (PQ) for vector search at scale.

The reference delegates ANN entirely to ChromaDB's internal HNSW
(dependency of reference src/chromadb_store.py:1 — never configured in
repo code). HNSW is a pointer-chasing in-memory graph — the wrong shape
for a 100 TB Spark corpus. The batch-index equivalents here follow the
FAISS lineage (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011):

- train:  split the vector into ``m`` subspaces, k-means each subspace
          into ``2^nbits`` centroids (the codebooks — tiny: m * 2^nbits
          rows total, trained on a deterministic hash-sample).
- encode: each vector becomes ``m`` small codes (argmin centroid per
          subspace) — a one-time Arrow-batched pass; the encoded table
          is 64x smaller than float32 vectors at m=8, nbits=4, dim=64.
- search (ADC, asymmetric distance computation): the one kNN kernel
          of ``operators/knn.py`` (``ann.kernel_search``) with a decode
          hook — each row's codes become x̂ = concat_j books[j][code_j]
          inside the scoring stage (``knn.decode_codes``), so its
          ``l2`` fold gives ‖q − x̂‖², which IS the ADC distance
          sum_j table[j][code_j(row)] (same ranking, equal to 1e-9).
          No lookup table is built per query or per (query, list):
          IVFADC residual codes decode to centroid + r̂, and
          ‖(q − c) − r̂‖² = ‖q − x̂‖².

Composes with the IVF layout (operators/ann.py): the approximate pass
reads only (id, codes, centroid_id) of the probed partitions, each row
against only the queries that probed its list; each query's
``k*rerank_factor`` ADC shortlist is then re-ranked with exact cosine
by a second pass of the same kernel over the full-precision vectors,
behind a pushed ``id IN (...)``. Single-query searches are the batch
path with one query.
"""

from __future__ import annotations

import functools
from typing import Sequence

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.operators import ann as A
from cyborgdb_encrypted_vector_search_spark.operators import knn


def _kmeans_1sub(x: np.ndarray, k: int, seed: int, iters: int) -> np.ndarray:
    """Seeded Lloyd's iterations on one subspace; deterministic."""
    rng = np.random.RandomState(seed)
    init = rng.choice(len(x), size=min(k, len(x)), replace=False)
    cents = x[np.sort(init)].astype(np.float64)
    for _ in range(iters):
        # (n, k) squared distances; argmin takes the FIRST minimum —
        # a deterministic tie-break
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def train_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    iters: int = 10,
    sample_mod: int = 1,
) -> list[np.ndarray]:
    """Train m per-subspace codebooks of 2^nbits centroids each.

    Training data is a deterministic hash-sample (``id % sample_mod ==
    0``) collected to the driver — codebooks need only a representative
    sample, never the full corpus; at 100 TB you'd sample ~1M rows.
    Returns a list of m arrays, each (2^nbits, dim/m).
    """
    k = 1 << nbits
    rows = (
        df.filter((F.col(id_col) % sample_mod) == 0)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    mat = np.asarray([r["v"] for r in rows], dtype=np.float64)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        _kmeans_1sub(mat[:, j * sub : (j + 1) * sub], k, seed + j, iters)
        for j in range(m)
    ]


def encode(
    df: DataFrame,
    codebooks: Sequence[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, codes array<int>) — one Arrow-batched pass at build time.

    The codebooks ship to executors inside the UDF closure (a few KB);
    each Arrow batch is encoded with one vectorized numpy argmin per
    subspace.
    """
    import pandas as pd  # noqa: F401 (annotation resolution)
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    sub = codebooks[0].shape[1]
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @pandas_udf("array<int>")
    def _enc(vs):
        mat = np.asarray(list(vs), dtype=np.float64)
        out = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            x = mat[:, j * sub : (j + 1) * sub]
            d = ((x[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        _enc(F.col(vec_col)).alias("codes"),
    )


def _search(
    codes_df: DataFrame,
    centroids: DataFrame | None,
    codebooks: Sequence[np.ndarray],
    queries: tuple,
    k: int,
    nprobe: int,
    rerank_df: DataFrame | None,
    rerank_factor: int,
    id_col: str,
    vec_col: str,
    residual: bool = False,
    qid_col: str | None = None,
) -> DataFrame:
    """Every PQ search (:func:`ann.kernel_search`): the codes decode to
    x̂ = concat_j books[j][code_j] — plus the row's centroid for
    ``residual`` codes — so the ``l2`` kernel's ‖q − x̂‖² is the ADC
    distance, and the pass reads only (id, codes, centroid_id). With
    ``centroids`` a row is scored only against the queries whose
    ``nprobe`` nearest lists hold it. With ``rerank_df`` each query's
    ``k*rerank_factor`` shortlist is re-ranked by exact cosine
    (``score``); without, ``adc_dist`` is the ADC distance and
    ``score`` = -``adc_dist`` (higher is better either way). A local
    frame of (qid_col, id, [adc_dist,] score), without ``qid_col`` for
    a single query."""
    books = np.stack([np.asarray(b, dtype=np.float64) for b in codebooks])
    cols, probes, cents = [id_col, "codes"], None, None
    if centroids is not None:
        cids, cmat, lists = A.probe_lists(centroids, queries[1], nprobe)
        cols.append("centroid_id")
        probes = ("centroid_id", lists)
        cents = (cids, cmat) if residual else None
    hits = A.kernel_search(
        codes_df.select(*cols), queries, k, "l2", id_col, vec_col,
        probes=probes,
        decode=functools.partial(knn.decode_codes, books=books, centroids=cents),
        rerank=rerank_df, shortlist=k * rerank_factor,
    )
    out = [id_col, "score"]
    if rerank_df is None:
        adc = pc.multiply(hits.column("score"), hits.column("score"))
        hits = hits.set_column(hits.column_names.index("score"), "score", pc.negate(adc))
        hits, out = hits.append_column("adc_dist", adc), [id_col, "adc_dist", "score"]
    if qid_col is None:
        return A.result_frame(codes_df.sparkSession, hits, out)
    return A.result_frame(codes_df.sparkSession, hits, [qid_col] + out, qid_col)


def search_adc(
    codes_df: DataFrame,
    codebooks: Sequence[np.ndarray],
    target: Sequence[float],
    k: int = 3,
    id_col: str = "vec_id",
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ top-k by ADC over the whole code table; optionally re-rank
    the ``k * rerank_factor`` best with exact cosine from the
    full-precision ``rerank_df`` (the standard recall-recovery step).

    Returns a local frame, best first: (id, score) with ``score`` the
    exact cosine when re-ranking, else (id, adc_dist, score) with
    ``score`` = -``adc_dist``, so callers can always
    ``select(id_col, 'score')`` and sort DESC.
    """
    return _search(
        codes_df, None, codebooks, A.one_query(target), k, 0, rerank_df,
        rerank_factor, id_col, vec_col,
    )


def residual_frame(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, centroid_id, residual) — each vector minus its assigned
    coarse centroid, computed JVM-side with ``zip_with``.

    Classic IVFADC (Jégou et al., TPAMI 2011 §IV-A) quantizes the
    RESIDUAL ``x - q1(x)`` rather than the raw vector: residuals of a
    list cluster near the origin, so the same m x 2^nbits codebook
    budget yields a tighter quantizer. One broadcast join + one narrow
    projection — linear, shuffle-free at any corpus size.
    """
    assigned = A.assign_centroids(
        df.select(id_col, vec_col), centroids, vec_col
    )
    cent = F.broadcast(
        centroids.select(
            F.col("centroid_id"),
            F.col("centroid").cast("array<double>").alias("__cvec"),
        )
    )
    return assigned.join(cent, "centroid_id").select(
        id_col,
        "centroid_id",
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__cvec"),
            lambda x, y: x - y,
        ).alias("residual"),
    )


def ivfadc_search(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    target: Sequence[float],
    k: int = 3,
    nprobe: int = 2,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC with residual codes: :func:`ivfadc_search_batch` with one
    query, returning :func:`search_adc`'s columns.

    ``codes_df`` is (id, centroid_id, codes) where the codes encode
    residuals (``encode`` over ``residual_frame``). A row decodes to
    its list's centroid plus the decoded residual, so
    ‖(q − c) − r̂‖² = ‖q − x̂‖²: one decode replaces a residual ADC
    table per (query, probed list).
    """
    return _search(
        codes_df, centroids, codebooks, A.one_query(target), k, nprobe,
        rerank_df, rerank_factor, id_col, vec_col, residual=True,
    )


def ivfadc_search_batch(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch IVFADC over residual codes: probes on the driver, one
    approximate kernel pass over the probed lists, one exact re-rank
    pass (see :func:`_search`). Returns a local frame of (query_id,
    id, score) — plus ``adc_dist`` without re-rank. Jobs: the query and
    centroid collects (none for local frames) and the kernel passes."""
    return _search(
        codes_df, centroids, codebooks,
        A.collect_queries(queries, query_id_col, query_vec_col), k, nprobe,
        rerank_df, rerank_factor, id_col, vec_col, True, query_id_col,
    )


def ivfpq_search_batch(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch IVF-PQ: every query probed, ADC-scored and re-ranked in
    two kernel passes — the serving shape for a query batch; returns
    what :func:`ivfadc_search_batch` returns, over raw-vector codes."""
    return _search(
        codes_df, centroids, codebooks,
        A.collect_queries(queries, query_id_col, query_vec_col), k, nprobe,
        rerank_df, rerank_factor, id_col, vec_col, qid_col=query_id_col,
    )


def ivfpq_search(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    target: Sequence[float],
    k: int = 3,
    nprobe: int = 2,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse probe pruning, then ADC, then exact re-rank —
    :func:`ivfpq_search_batch` with one query, returning
    :func:`search_adc`'s columns.

    ``codes_df`` is the built index — (id, centroid_id, codes) — ideally
    materialized partitioned by centroid_id (ann.build_ivf_layout shape)
    so the probe IN-filter is partition pruning. The scan that remains
    touches nprobe/k_coarse of the data and reads only the code column
    (m bytes/row, 64x smaller than the vectors); the full-precision
    table is consulted only for the k*rerank_factor survivors. This is
    the FAISS IVFADC composition (Jégou et al., TPAMI 2011 §IV) — at
    100 TB the only full-corpus costs are build-time one-pass assign
    and encode.
    """
    return _search(
        codes_df, centroids, codebooks, A.one_query(target), k, nprobe,
        rerank_df, rerank_factor, id_col, vec_col,
    )

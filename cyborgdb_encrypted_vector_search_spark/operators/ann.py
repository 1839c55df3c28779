"""Approximate nearest-neighbor search: LSH buckets and IVF partitioning.

The reference delegates ANN entirely to ChromaDB's internal HNSW index
(dependency of src/chromadb_store.py:1 — never configured or seen by its
code). An HNSW graph is a pointer-chasing, single-node structure; the
Spark-native equivalents of "index the corpus so queries touch a small
fraction of it" are:

- **Random-hyperplane LSH** (sign-of-projection bits → integer bucket).
  Pure column expressions over seeded literal planes: deterministic,
  shuffle-free to compute, and a clusterable/partitionable key. At
  query time only same-bucket (or multiprobe-neighbor-bucket) rows are
  scored.
- **IVF (inverted file)**: coarse-quantize every vector to its nearest
  centroid; lay the table out partitioned by ``centroid_id``. A query
  probes the ``nprobe`` nearest centroids and ranks exactly within
  them — partition pruning does the index work (SURVEY.md §4).
  Centroids come from seeded k-means (:func:`kmeans_centroids`: one
  job to sample, k-means++ and Lloyd on the driver) or any fixed
  vector set.

Every search — LSH, IVF, and the quantized families of
``operators/quant.py`` (SQ8) and ``operators/pq.py`` (PQ, IVF-PQ,
IVFADC) — runs :func:`kernel_search` on the exact Arrow kernel of
``operators/knn.py``, the REPOSE (ICDE 2021) shape of local top-k per
partition and one global merge on the driver: probe lists (IVF lists,
LSH buckets) are picked on the driver, one ``mapInArrow`` pass scores
each row only against the queries that probed it (through a family's
decode hook for quantized rows), and an optional second pass of the
same kernel re-ranks each query's shortlist exactly. Single-query
searches are the batch path with one query; results are local frames.
Assignment is one narrow kernel stage too (:func:`knn.nearest`).

Both turn O(corpus) per query into O(corpus/buckets · probes) and are
embarrassingly scalable: build is one pass, search is a pruned scan
with k candidates per query per partition and one driver merge, with
no join, window or shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import knn


# --- random-hyperplane LSH ---------------------------------------------

def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic unit hyperplanes (seeded Gaussian, rounded so the
    exact same literals can be embedded in oracle SQL)."""
    if not 1 <= n_planes <= 62:
        raise ValueError(f"n_planes must be in [1, 62] for a bigint bucket, got {n_planes}")
    rng = np.random.RandomState(seed)
    h = rng.randn(n_planes, dim)
    h /= np.linalg.norm(h, axis=1, keepdims=True)
    return [[round(float(x), 6) for x in row] for row in h]


def lsh_bucket(vec_col: Column | str, planes: Sequence[Sequence[float]]) -> Column:
    """Integer bucket id: bit i = (vec . plane_i) > 0.

    Column-expression only — at 100 TB this is computed inside the scan
    projection, no shuffle, and becomes a clusterable/partitionable key.
    """
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        bit = F.when(
            V.dot(c, V.literal_vector(p)) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        bucket = bucket + bit.cast("bigint")
    return bucket


def sql_lsh_bucket(vec_expr: str, planes: Sequence[Sequence[float]]) -> str:
    """DuckDB twin of lsh_bucket over the same literal planes."""
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(({vec_expr})::DOUBLE[], {lit}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 7,
    dim: int = 64,
    out_col: str = "bucket",
) -> DataFrame:
    return df.withColumn(out_col, lsh_bucket(vec_col, hyperplanes(dim, n_planes, seed)))


def multiprobe_buckets(bucket: Column | str, n_planes: int) -> Column:
    """The probe set for a query bucket: itself + every 1-bit-flip
    neighbor (n_planes+1 buckets). Single-bucket LSH probes miss
    near-boundary neighbors; probing Hamming-1 buckets recovers most of
    that recall for (n_planes+1)/2^n_planes of the corpus scanned —
    at 8 planes, ~3.5% of the data instead of 0.4%, still ~28x less
    than brute force."""
    c = F.col(bucket) if isinstance(bucket, str) else bucket
    return F.array(c, *[c.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])


def sql_multiprobe_buckets(bucket_expr: str, n_planes: int) -> str:
    parts = ", ".join(
        [bucket_expr] + [f"xor({bucket_expr}, {1 << i})" for i in range(n_planes)]
    )
    return f"[{parts}]"


def _lsh_search(
    corpus_bucketed: DataFrame,
    queries: tuple,
    norms: Sequence[float],
    buckets: Sequence[Sequence[int]],
    k: int,
    n_planes: int,
    id_col: str,
    unit_col: str,
    norm_col: str,
) -> pa.Table:
    """Multiprobe LSH on the kernel: query ``i`` of ``queries`` (ids,
    unit vectors, id type) scores the rows whose bucket is within
    Hamming-1 of one of ``buckets[i]``, by unit cosine
    (:func:`V.unit_cosine`'s fold over the stored and the given unit
    vectors, -1.0 when either norm is 0)."""
    lists = [
        sorted({b ^ f for b in bs for f in [0] + [1 << i for i in range(n_planes)]})
        for bs in buckets
    ]
    rest = [c for c in corpus_bucketed.columns if c not in (unit_col, norm_col, "unit", "vnorm")]
    frame = corpus_bucketed.select(
        *rest, F.col(unit_col).alias("unit"), F.col(norm_col).alias("vnorm")
    )
    return kernel_search(
        frame, queries, k, "cosine", id_col, probes=("bucket", lists), query_norms=norms
    )


def lsh_probe_search(
    corpus_bucketed: DataFrame,
    target_unit,
    target_bucket_df: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    unit_col: str = "unit",
    norm_col: str = "vnorm",
) -> DataFrame:
    """Multiprobe LSH search: candidates = rows whose bucket is within
    Hamming-1 of the target's bucket, ranked by exact unit cosine.
    :func:`lsh_search_batch` with one query; returns a local frame of
    the corpus columns (but ``unit_col``/``norm_col``) plus ``score``,
    best first. Jobs: the target bucket collect and the kernel."""
    buckets = [r[0] for r in target_bucket_df.select("bucket").collect()]
    hits = _lsh_search(
        corpus_bucketed, one_query(target_unit), [V.norm_py(target_unit)], [buckets],
        k, n_planes, id_col, unit_col, norm_col,
    )
    return result_frame(corpus_bucketed.sparkSession, hits.drop([QID, "rank"]))


def lsh_search_batch(
    corpus_bucketed: DataFrame,
    queries_bucketed: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    unit_col: str = "unit",
    norm_col: str = "vnorm",
) -> DataFrame:
    """Batch multiprobe LSH: every query's probe + rank in one kernel job.

    ``queries_bucketed`` carries (query_id, unit, vnorm, bucket) — the
    same index columns the corpus has. Per query the probe set is its
    bucket plus all Hamming-1 neighbors (9 of 2^n_planes); the corpus
    is filtered to the union of the probe sets (partition pruning on a
    bucket-partitioned layout) and each row is scored only against the
    queries that probed its bucket, by exact unit cosine. Returns a
    local frame of (query_id, id, score), each query's k best by
    (score desc, id asc). Jobs: the query collect (none for a local
    frame) and the kernel."""
    rows = queries_bucketed.select(query_id_col, unit_col, norm_col, "bucket").collect()
    queries = (
        [r[0] for r in rows],
        [r[1] for r in rows],
        queries_bucketed.schema[query_id_col].dataType,
    )
    hits = _lsh_search(
        corpus_bucketed, queries, [r[2] for r in rows], [[r[3]] for r in rows],
        k, n_planes, id_col, unit_col, norm_col,
    )
    return result_frame(
        queries_bucketed.sparkSession, hits, [query_id_col, id_col, "score"], query_id_col
    )


# --- IVF ----------------------------------------------------------------

def _centroid_matrix(
    centroids: DataFrame,
    id_col: str = "centroid_id",
    vec_col: str = "centroid",
) -> tuple[list, list]:
    """The centroid table on the driver as (ids, vectors), ascending
    by id. A local (Arrow) centroid frame such as
    :func:`kmeans_centroids`' costs no Spark job here. Raises
    ``ValueError`` on an empty table."""
    rows = sorted(centroids.select(id_col, vec_col).collect(), key=lambda r: r[0])
    if not rows:
        raise ValueError("the centroid table is empty")
    return [r[0] for r in rows], [r[1] for r in rows]


def assign_centroids(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid assignment (coarse quantization): every row of
    ``df`` exactly once, plus ``centroid_id_col``.

    The centroid matrix rides in the closure of one narrow
    ``mapInArrow`` stage (:func:`knn.nearest`): no join, no shuffle,
    linear in corpus size. Distances are :func:`V.l2_distance`'s fold
    bit for bit; ties go to the smaller centroid id, and a null, empty
    or wrong-length vector goes to the smallest id (what ``min_by``
    over the null distances of a cross join gives)."""
    ids, vecs = _centroid_matrix(centroids, centroid_id_col, centroid_vec_col)
    return knn.nearest(
        df, ids, vecs, vec_col, centroid_id_col,
        centroids.schema[centroid_id_col].dataType,
    )


# FAISS's per-centroid training cap: k-means trains on at most this
# many sampled rows per centroid
KMEANS_ROWS_PER_CENTROID = 256
# MLlib's k-means|| runs this many local iterations before its passes
_KMEANS_INIT_ITERS = 30
_KMEANS_CHUNK = 4096


def kmeans_centroids(
    df: DataFrame, k: int = 16, vec_col: str = "embedding", seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Seeded k-means centroids as (centroid_id int, centroid
    array<double>) rows, exactly k of them.

    One Spark job collects a seeded, deterministic sample of at most
    ``KMEANS_ROWS_PER_CENTROID * k`` rows (:func:`_kmeans_sample`); the
    driver seeds k-means++ on it and refines with Lloyd iterations
    (:func:`_kmeans_train`). Build-time only; the centroid table is
    tiny and reusable. It comes back as a local frame (an Arrow
    LocalRelation), so reading it — which assignment and every search
    do — runs no Spark job. Raises ``ValueError`` on ``k`` or
    ``max_iter`` below 1 (before any job) and on fewer than k rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    centers = _kmeans_train(_kmeans_sample(df, k, vec_col, seed), k, seed, max_iter)
    return df.sparkSession.createDataFrame(pa.table({
        "centroid_id": pa.array(range(k), pa.int32()),
        "centroid": pa.array(centers.tolist(), pa.list_(pa.float64())),
    }))


def _kmeans_sample(df: DataFrame, k: int, vec_col: str, seed: int) -> np.ndarray:
    """The training rows as a float64 matrix: the first
    ``KMEANS_ROWS_PER_CENTROID * k`` by a seeded ``xxhash64`` of the
    vector, then by the vector itself, so equal hashes order the same
    way every run (one TakeOrderedAndProject job). Raises
    ``ValueError`` on fewer than k rows, or on vectors that are null,
    empty or of unequal lengths."""
    v = F.col(vec_col).cast("array<double>")
    rows = (
        df.select(F.xxhash64(F.lit(seed), v).alias("h"), v.alias("v"))
        .orderBy("h", "v")
        .limit(KMEANS_ROWS_PER_CENTROID * k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"k-means needs at least k = {k} rows, got {len(rows)}")
    lengths = {-1 if r[1] is None else len(r[1]) for r in rows}
    if len(lengths) > 1 or lengths & {-1, 0}:
        raise ValueError(
            f"k-means vectors must be non-empty and of one length, got lengths"
            f" {sorted(lengths)} (-1: null)"
        )
    return np.array([r[1] for r in rows], dtype=np.float64)


def _nearest_rows(x: np.ndarray, c: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per row of ``x``: the index of its nearest row of ``c`` (ties to
    the smaller index, as :func:`assign_centroids`) and the distance,
    by :func:`knn.l2_distances`' fold, in chunks of rows so memory
    stays O(chunk x len(c))."""
    idx, dist = [], []
    for s in range(0, len(x), _KMEANS_CHUNK):
        d = knn.l2_distances(x[s:s + _KMEANS_CHUNK], c)
        a = np.argmin(d, axis=1)
        idx.append(a)
        dist.append(d[np.arange(len(a)), a])
    return np.concatenate(idx), np.concatenate(dist)


def _kmeans_train(x: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """k centroids of the rows of ``x``: k-means++ seeding, then Lloyd
    iterations — at most ``_KMEANS_INIT_ITERS + max_iter`` (MLlib's
    k-means|| budget), stopping once no assignment changes. A cluster
    that empties keeps its centroid."""
    rng = np.random.default_rng(seed % 2**64)
    n = len(x)
    picks = [int(rng.integers(n))]
    d2 = _nearest_rows(x, x[picks])[1] ** 2
    for _ in range(1, k):
        total = float(d2.sum())
        if total > 0:  # D^2 sampling; a row at distance 0 is never picked
            i = int(np.searchsorted(np.cumsum(d2), rng.random() * total, side="right"))
            i = min(i, n - 1)
        else:  # every row sits on a picked one
            i = int(rng.integers(n))
        picks.append(i)
        d2 = np.minimum(d2, _nearest_rows(x, x[[i]])[1] ** 2)
    c = x[picks].copy()
    assign = None
    for _ in range(_KMEANS_INIT_ITERS + max_iter):
        a, _ = _nearest_rows(x, c)
        if assign is not None and np.array_equal(a, assign):
            break
        assign = a
        counts = np.bincount(a, minlength=k)
        sums = np.zeros_like(c)
        np.add.at(sums, a, x)
        full = counts > 0
        c[full] = sums[full] / counts[full, None]
    return c


def build_ivf_layout(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: assign + write partitioned by
    centroid_id. Queries that probe n centroids then read only those
    directories — Spark's partition pruning IS the inverted file."""
    assigned = assign_centroids(df, centroids, vec_col)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def append_to_ivf_layout(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance — the ANN ingest path at 100 TB:
    assign ONLY the new batch to the FIXED centroids and append it
    into the existing partitioned layout. A parquet append adds files
    solely under the touched ``centroid_id=`` directories, so ingest
    cost is O(batch): the resident corpus is never rewritten,
    reshuffled or even read, and probe queries keep partition-pruning
    the same layout (new files are picked up by the directory
    listing). Centroids stay fixed between rebuilds — the standard IVF
    maintenance model; recall drift under distribution shift is a
    rebuild trigger (build_ivf_layout), not an append concern."""
    assigned = assign_centroids(df, centroids, vec_col)
    assigned.write.mode("append").partitionBy("centroid_id").parquet(path)


def adaptive_probe_ids(
    centroids_with_counts: DataFrame,
    target: Sequence[float],
    k: int = 3,
    factor: int = 4,
    count_col: str = "n",
) -> list[int]:
    """Adaptive nprobe: probe centroids in distance order, stopping once
    the accumulated inverted-list size reaches ``k * factor``.

    A fixed nprobe wastes IO on dense regions and starves sparse ones;
    sizing the probe set by candidate count keeps re-rank cost constant.
    ``centroids_with_counts`` is the (tiny) centroid table joined with
    per-list row counts — maintained at build time, so this is a
    driver-side sort over k_coarse rows, no corpus scan. A centroid is
    probed iff the candidate total BEFORE it is still short of the
    target, so the result is the minimal prefix reaching k*factor.
    """
    rows = centroids_with_counts.select("centroid_id", "centroid", count_col).collect()
    return _prefix_probes([tuple(r) for r in rows], target, k * factor)


def _prefix_probes(rows: list[tuple], target: Sequence[float], need: int) -> list:
    """:func:`adaptive_probe_ids` over (centroid id, centroid, list
    size) rows: distances by the ``l2`` fold, ties to the smaller id."""
    if not rows:
        return []
    rows = sorted(rows, key=lambda r: r[0])
    cmat, _ = knn.query_matrix([r[1] for r in rows], "l2")
    qmat, _ = knn.query_matrix([target], "l2")
    probe, cum = [], 0
    for i in np.argsort(knn.l2_distances(qmat, cmat)[0], kind="stable"):
        if cum >= need:
            break
        probe.append(rows[i][0])
        cum += rows[i][2]
    return probe


# --- one search path for every ANN family ---------------------------

QID = "__qid"  # the query id column of kernel_search's result


def kernel_search(
    corpus: DataFrame,
    queries: tuple,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str = "embedding",
    probes: tuple[str, Sequence[Sequence]] | None = None,
    decode=None,
    query_norms: Sequence[float] | None = None,
    rerank: DataFrame | None = None,
    shortlist: int = 0,
) -> pa.Table:
    """The search every ANN family runs, on the exact kernel
    (:func:`knn.topk_candidates`), the local-top-k-then-global-merge
    shape of REPOSE (ICDE 2021), for ``queries`` = (ids, vectors, id
    type) (:func:`collect_queries`, :func:`one_query`):

    1. one kernel pass over ``corpus`` keeps, per partition, each
       query's best rows by ``metric``, only among the rows its
       ``probes`` list (IVF lists, LSH buckets) and read through
       ``decode`` (the quantized families' reconstruction,
       :func:`knn.decode_codes`) — ``k`` of them, or ``shortlist``
       when re-ranking;
    2. :func:`knn.merge_topk` cuts each query's list on the driver;
    3. with ``rerank`` (the full-precision frame), a second pass of the
       same kernel scores each query's shortlist exactly
       (``cosine_ratio``: :func:`V.cosine`'s fold) — the frame is
       filtered by ``id IN`` the shortlists' union, a pushed scan
       predicate, and a row is scored only against the queries that
       shortlisted it — and a second merge keeps the top ``k``.

    Returns the merged rows as an Arrow table: the pass's frame
    columns, the query id (``QID``), ``score`` and ``rank``, plus the
    first pass's ``approx_score`` after a re-rank. Jobs: one per pass."""

    qids, qvecs, qid_type = queries

    def top(frame, n, metric, probes, decode, norms):
        cands = knn.topk_candidates(
            frame, qids, qvecs, n, corpus_id_col=id_col, corpus_vec_col=vec_col,
            metric=metric, query_id_col=QID, query_id_type=qid_type,
            probes=probes, decode=decode, query_norms=norms,
        )
        return knn.merge_topk(cands.toArrow(), n, QID, id_col, desc=metric != "l2")

    if rerank is None:
        return top(corpus, k, metric, probes, decode, query_norms)
    short = top(corpus, shortlist, metric, probes, decode, query_norms)
    keys = list(zip(short.column(QID).to_pylist(), short.column(id_col).to_pylist()))
    lists: dict = {q: [] for q in qids}
    for q, i in keys:
        lists[q].append(i)
    hits = top(
        rerank.select(id_col, vec_col), k, "cosine_ratio",
        (id_col, [lists[q] for q in qids]), None, None,
    )
    approx = dict(zip(keys, short.column("score").to_pylist()))
    got = zip(hits.column(QID).to_pylist(), hits.column(id_col).to_pylist())
    return hits.append_column(
        "approx_score", pa.array([approx[key] for key in got], pa.float64())
    )


def result_frame(
    spark, hits: pa.Table, cols: Sequence[str] | None = None, qid_col: str | None = None
) -> DataFrame:
    """A :func:`kernel_search` result as a local frame (no Spark job to
    read it): ``cols`` of it, the query id renamed to ``qid_col``."""
    if qid_col is not None:
        hits = hits.rename_columns([qid_col if c == QID else c for c in hits.column_names])
    return spark.createDataFrame(hits if cols is None else hits.select(cols))


def collect_queries(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[list, list, T.DataType]:
    """(ids, vectors, id type) of a query frame: one collect job, none
    for a local frame."""
    rows = queries.select(id_col, vec_col).collect()
    return [r[0] for r in rows], [r[1] for r in rows], queries.schema[id_col].dataType


def one_query(target: Sequence[float]) -> tuple[list, list, T.DataType]:
    """A single-query search's queries: ``target`` under id 0."""
    return [0], [target], T.LongType()


def probe_lists(
    centroids: DataFrame, qvecs: Sequence, nprobe: int
) -> tuple[np.ndarray, np.ndarray, list]:
    """(ascending centroid ids, centroid matrix, per-query probe lists):
    on the driver, each query's ``nprobe`` nearest lists by the ``l2``
    fold, ties to the smaller centroid id. Collecting a local centroid
    table such as :func:`kmeans_centroids`' runs no job. Raises
    ``ValueError`` on ``nprobe < 1`` (before the collect), an empty
    centroid table, or a query vector that is null or not as long as
    the centroids."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    cids, cvecs = _centroid_matrix(centroids)
    cmat, _ = knn.query_matrix(cvecs, "l2")
    bad = sorted({-1 if v is None else len(v) for v in qvecs} - {cmat.shape[1]})
    if bad:
        raise ValueError(
            f"query vectors must be {cmat.shape[1]} long like the centroids,"
            f" got lengths {bad} (-1: null)"
        )
    qmat, _ = knn.query_matrix(qvecs, "l2")
    lists = [
        [cids[c] for c in np.argsort(dq, kind="stable")[:nprobe]]
        for dq in knn.l2_distances(qmat, cmat)
    ]
    return np.array(cids), cmat, lists


def ivf_search_adaptive(
    corpus_with_centroids: DataFrame,
    centroids: DataFrame,
    target: Sequence[float],
    k: int = 3,
    factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    counts: DataFrame | None = None,
) -> DataFrame:
    """IVF probe search with candidate-count-adaptive probe depth
    (:func:`adaptive_probe_ids`), exact cosine inside the probed lists
    on the kernel; returns what :func:`ivf_search` returns.

    ``counts`` (centroid_id, n) comes from the build step; if omitted
    it is computed with one count-per-list aggregation (fine at test
    scale; at 100 TB persist it next to the layout).
    """
    if counts is None:
        counts = corpus_with_centroids.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("n")
        )
    sizes = dict(counts.select("centroid_id", "n").collect())
    cids, cvecs = _centroid_matrix(centroids)
    probe_ids = _prefix_probes(
        [(c, v, sizes[c]) for c, v in zip(cids, cvecs) if c in sizes],
        target, k * factor,
    )
    hits = kernel_search(
        corpus_with_centroids, one_query(target), k, "cosine_ratio", id_col,
        vec_col, probes=("centroid_id", [probe_ids]),
    )
    return result_frame(corpus_with_centroids.sparkSession, hits.drop([QID, "rank"]))


def ivf_search_batch(
    queries: DataFrame,
    corpus_with_centroids: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch IVF: every query's probe + exact rank in ONE kernel job.

    Returns a local frame of (query_id, id, score): each query's k best
    by (cosine desc, id asc, null scores last) among the rows of its
    ``nprobe`` nearest lists (:func:`probe_lists`). The corpus is
    filtered to the union of the probed lists (partition pruning on a
    centroid-partitioned layout) and one ``mapInArrow`` pass
    (:func:`kernel_search`) scores each row only against the queries
    that probed its list, in :func:`V.cosine`'s order
    (``cosine_ratio``); the driver merges each query's top k. A stored
    vector that is null, empty or of another length keeps its
    :func:`V.cosine` score (null, or -1.0 when its norm is 0).

    Jobs: the query collect (none for a local frame) and the kernel; a
    local centroid table such as :func:`kmeans_centroids`' costs none.
    Raises ``ValueError`` before any job on ``k < 1`` or ``nprobe < 1``,
    and before the kernel on an empty centroid table or a query vector
    that is null or not as long as the centroids.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    qs = collect_queries(queries, query_id_col, query_vec_col)
    _, _, lists = probe_lists(centroids, qs[1], nprobe)
    hits = kernel_search(
        corpus_with_centroids.select(id_col, "centroid_id", vec_col), qs, k,
        "cosine_ratio", id_col, vec_col, probes=("centroid_id", lists),
    )
    return result_frame(
        queries.sparkSession, hits, [query_id_col, id_col, "score"], query_id_col
    )


def ivf_search(
    corpus_with_centroids: DataFrame,
    centroids: DataFrame,
    target: Sequence[float],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest centroids, exact-rank inside them:
    :func:`ivf_search_batch` with one query. Returns a local frame of
    the corpus columns plus ``score``, best first. When
    corpus_with_centroids is a centroid-partitioned table, the
    centroid_id IN (...) filter prunes partitions before any IO.
    """
    _, _, lists = probe_lists(centroids, [target], nprobe)
    hits = kernel_search(
        corpus_with_centroids, one_query(target), k, "cosine_ratio", id_col,
        vec_col, probes=("centroid_id", lists),
    )
    return result_frame(corpus_with_centroids.sparkSession, hits.drop([QID, "rank"]))

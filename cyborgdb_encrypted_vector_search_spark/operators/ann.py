"""Approximate nearest-neighbor search: LSH buckets and IVF partitioning.

The reference delegates ANN entirely to ChromaDB's internal HNSW index
(dependency of src/chromadb_store.py:1 — never configured or seen by its
code). An HNSW graph is a pointer-chasing, single-node structure; the
Spark-native equivalents of "index the corpus so queries touch a small
fraction of it" are:

- **Random-hyperplane LSH** (sign-of-projection bits → integer bucket).
  Pure column expressions over seeded literal planes: deterministic,
  shuffle-free to compute, and bucket equality is a join key. At query
  time only same-bucket (or multiprobe-neighbor-bucket) rows are
  scored — candidate generation is a hash join, not a scan.
- **IVF (inverted file)**: coarse-quantize every vector to its nearest
  centroid; lay the table out partitioned by ``centroid_id``. A query
  probes the ``nprobe`` nearest centroids and ranks exactly within
  them — partition pruning does the index work (SURVEY.md §4).
  Centroids come from seeded k-means (:func:`kmeans_centroids`: one
  job to sample, k-means++ and Lloyd on the driver) or any fixed
  vector set.
  Assignment and batch search run on the exact Arrow kernel of
  ``operators/knn.py`` with the (small) centroid matrix in its closure:
  assignment is one narrow stage, and a batch search picks every
  query's probes on the driver, scores the probed lists in one kernel
  stage (k candidates per query per partition) and merges them there.

Both turn O(corpus) per query into O(corpus/buckets · probes) and are
embarrassingly scalable: build is one pass, search is a pruned scan
plus a top-k (TakeOrderedAndProject for one target, the kernel's
per-partition candidates and one driver merge for a batch).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
    Hamming-1 of the target's bucket, ranked by exact cosine. On a
    bucket-partitioned layout the semi-join on probe buckets is pure
    partition pruning."""
    probes = target_bucket_df.select(
        F.explode(multiprobe_buckets("bucket", n_planes)).alias("bucket")
    ).distinct()
    cand = corpus_bucketed.join(F.broadcast(probes), "bucket")
    t = V.literal_vector(target_unit)
    return (
        cand.withColumn(
            "score",
            F.when(F.col(norm_col) == 0, F.lit(-1.0)).otherwise(
                V.dot(unit_col, t)
            ),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


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
    """Batch multiprobe LSH: every query's probe + rank in ONE plan.

    ``queries_bucketed`` carries (query_id, unit, vnorm, bucket) — the
    same index columns the corpus has. Per query the probe set is its
    bucket plus all Hamming-1 neighbors (9 of 2^n_planes); the whole
    (query, bucket) probe list is Q×9 rows, broadcasts, and hash-joins
    the corpus on bucket — on a bucket-partitioned layout that is
    partition pruning for the union of all queries' probes in a single
    scan. Exact unit-cosine on candidates, per-query top-k window
    (WindowGroupLimit). A corpus row has exactly one bucket, so no
    (query, row) pair is scored twice.
    """
    from pyspark.sql import Window

    probes = queries_bucketed.select(
        F.col(query_id_col).alias("__qid"),
        F.col(unit_col).alias("__qunit"),
        F.col(norm_col).alias("__qnorm"),
        F.explode(multiprobe_buckets("bucket", n_planes)).alias("bucket"),
    )
    cand = corpus_bucketed.join(F.broadcast(probes), "bucket")
    score = F.when(
        (F.col(norm_col) == 0) | (F.col("__qnorm") == 0), F.lit(-1.0)
    ).otherwise(V.dot(unit_col, "__qunit"))
    w = Window.partitionBy("__qid").orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("score", score)
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col), F.col(id_col), F.col("score")
        )
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


def compact_ivf_layout(
    spark, src_path: str, dest_path: str, max_tasks: int = 8
) -> None:
    """Compact an append-grown IVF layout into ``dest_path``.

    Every append_to_ivf_layout batch adds at least one file per
    touched ``centroid_id=`` directory, so a long-running ingest
    accumulates small files (the classic streaming-sink problem) and
    probe-time listing/open cost creeps up. Compaction is a
    SHUFFLE-FREE maintenance job: read → ``coalesce(max_tasks)``
    (narrow — no Exchange) → rewrite ``partitionBy(centroid_id)``,
    leaving at most ``max_tasks`` files per centroid directory. The
    caller swaps ``dest_path`` in atomically (directory rename) so
    readers never see a half-compacted index; the source layout stays
    intact until then."""
    df = spark.read.parquet(src_path)
    (
        df.coalesce(max_tasks)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(dest_path)
    )


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
    tvec = V.literal_vector([float(x) for x in target])
    rows = (
        centroids_with_counts.withColumn(
            "__d", V.l2_distance("centroid", tvec)
        )
        .orderBy(F.asc("__d"), F.asc("centroid_id"))
        .select("centroid_id", count_col)
        .collect()
    )
    need = k * factor
    probe, cum = [], 0
    for r in rows:
        if cum >= need:
            break
        probe.append(r["centroid_id"])
        cum += r[count_col]
    return probe


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
    """IVF probe search with candidate-count-adaptive probe depth.

    ``counts`` (centroid_id, n) comes from the build step; if omitted
    it is computed with one count-per-list aggregation (fine at test
    scale; at 100 TB persist it next to the layout).
    """
    if counts is None:
        counts = corpus_with_centroids.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("n")
        )
    cw = centroids.join(F.broadcast(counts), "centroid_id")
    probe_ids = adaptive_probe_ids(cw, target, k=k, factor=factor)
    t = V.literal_vector([float(x) for x in target])
    return (
        corpus_with_centroids.filter(F.col("centroid_id").isin(probe_ids))
        .withColumn("score", V.cosine(vec_col, t))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivf_candidates(
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
    """The kernel stage of :func:`ivf_search_batch`, lazy: at most k
    candidate rows (id, centroid_id, vector, query_id, score) per query
    per partition.

    1. On the driver, each query's ``nprobe`` nearest lists by the
       ``l2`` fold, ties to the smaller centroid id.
    2. The corpus is filtered to the union of the probed lists
       (partition pruning on a centroid-partitioned layout).
    3. One ``mapInArrow`` stage (:func:`knn.topk_candidates`) scores
       each row only against the queries that probed its list, in
       :func:`V.cosine`'s order (``cosine_ratio``), and keeps k rows
       per query per partition by (score desc, id asc).

    Collecting the queries is the one job run here (none for a local
    frame; a local centroid table costs none either). Raises
    ``ValueError`` before it on ``k < 1`` or ``nprobe < 1``, and before
    the kernel on an empty centroid table or a query vector that is
    null or not as long as the centroids. A stored vector that is null,
    empty or of another length keeps its :func:`V.cosine` score (null,
    or -1.0 when its norm is 0).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    cids, cvecs = _centroid_matrix(centroids)
    cmat, _ = knn.query_matrix(cvecs, "l2")
    rows = queries.select(query_id_col, query_vec_col).collect()
    qvecs = [r[1] for r in rows]
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
    probed = sorted({c for ls in lists for c in ls})
    corpus = corpus_with_centroids.filter(F.col("centroid_id").isin(probed))
    return knn.topk_candidates(
        corpus.select(id_col, "centroid_id", vec_col),
        [r[0] for r in rows],
        qvecs,
        k,
        corpus_id_col=id_col,
        corpus_vec_col=vec_col,
        metric="cosine_ratio",
        query_id_col=query_id_col,
        query_id_type=queries.schema[query_id_col].dataType,
        probes=("centroid_id", lists),
    )


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
    ``nprobe`` nearest lists — the rows and scores :func:`ivf_search`
    gives per query. :func:`ivf_candidates` builds the kernel stage;
    its candidates are collected and merged on the driver
    (:func:`knn.merge_topk`), the distributed top-k shape of REPOSE
    (ICDE 2021). Jobs: the query collect (none for a local frame) and
    the kernel; a local centroid table such as
    :func:`kmeans_centroids`' costs none. Bad input raises as in
    :func:`ivf_candidates`.
    """
    cands = ivf_candidates(
        queries, corpus_with_centroids, centroids, k, nprobe,
        query_id_col, query_vec_col, id_col, vec_col,
    )
    hits = knn.merge_topk(cands.toArrow(), k, query_id_col, id_col)
    return queries.sparkSession.createDataFrame(
        hits.select([query_id_col, id_col, "score"])
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
    """Probe the nprobe nearest centroids, exact-rank inside them.

    When corpus_with_centroids is a centroid-partitioned table, the
    centroid_id IN (...) filter prunes partitions before any IO.
    """
    t = V.literal_vector(target)
    probe_ids = [
        r["centroid_id"]
        for r in centroids.withColumn("__d", V.l2_distance("centroid", t))
        .orderBy(F.asc("__d"), F.asc("centroid_id"))
        .limit(nprobe)
        .collect()
    ]
    return (
        corpus_with_centroids.filter(F.col("centroid_id").isin(probe_ids))
        .withColumn("score", V.cosine(vec_col, t))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )

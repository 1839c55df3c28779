"""Scalar quantization (SQ8) for vector search at scale.

The third compression point on the ANN ladder this engine offers
(alongside IVF partition pruning, operators/ann.py, and product
quantization, operators/pq.py): each float32 dimension is quantized to
one byte against per-dimension [min, max] bounds learned from the
corpus. The FAISS ``SQ8`` lineage — 4x smaller than float32 with far
less training machinery than PQ (no codebooks, just a per-dimension
range), and a much tighter approximation than PQ at the same scan
cost, which makes it the default "fits-in-half-the-IO" index choice.

Spark shape (train, encode and single-query search are JVM-side, no UDF):

- train:  per-dimension min/max — ``posexplode`` + groupBy(dim) with
          map-side partial agg, so the shuffle carries O(partitions x
          dim) rows, never O(rows x dim); the resulting 2 x dim bounds
          are a driver-side literal (like PQ codebooks / IVF
          centroids).
- encode: one ``transform`` over the UNIT vector (quantizing the
          l2-normalized projection makes the quantized dot product a
          direct cosine approximation) with the bounds folded in as
          literal arrays — a single codegen'd projection.
- search: for a query q, approx_cosine(row) factors through the
          quantization affinely:

              x̂_i = min_i + code_i * scale_i
              dot(x̂, q) = Σ min_i q_i  +  Σ code_i (scale_i q_i)
                         = bias(q)     +  fold(codes, w(q))

          so scoring is ONE zip_with/aggregate fold against a
          precomputed literal weight vector — no decode materialized,
          whole-stage codegen end to end, global top-k as
          TakeOrderedAndProject. The top ``oversample*k`` candidates
          are re-ranked with exact cosine from the full-precision
          vectors behind an id IN (...) scan predicate (single-query)
          or a partition-pruned join (IVF+SQ8 batch) — the re-rank
          never full-scans the embedding column.

At 100 TB: the approximate pass reads ONLY the codes column (columnar
pruning; 64 B/row at dim=64 vs 256 B float32), the full-precision
column is touched for just ``oversample*k`` rows per query, and the
bounds ride along as literals — no join, no shuffle before the final
top-k. Batch variant scores all queries in one corpus pass through
knn.knn_join's Arrow kernel (queries in its closure, k candidates per
query per partition ranked by one window).

No counterpart in the reference (it delegates ANN to ChromaDB's HNSW,
src/chromadb_store.py:1); public design per FAISS's ScalarQuantizer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import vector as V
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


def sq8_decode_expr(
    code_col: str | Column, mins: list[float], maxs: list[float]
) -> Column:
    """Approximate unit vector back from codes (x̂ = min + code*scale)
    — used by the batch path to reuse the generic kNN plan."""
    scales = _scales(mins, maxs)
    lo = F.lit(mins)
    sc = F.lit(scales)
    return F.transform(
        code_col if isinstance(code_col, Column) else F.col(code_col),
        lambda c, i: (
            F.element_at(lo, i + F.lit(1))
            + c.cast("double") * F.element_at(sc, i + F.lit(1))
        ).cast("float"),
    )


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
    """Top-k by approximate quantized cosine, re-ranked exact.

    Stage 1 folds codes against the query-specific literal weights
    (see module docstring) and takes the global ``oversample*k`` —
    TakeOrderedAndProject over a codes-only columnar scan. Stage 2
    collects the shortlist ids (bounded: oversample*k of them) and
    re-scores them with exact cosine behind an id IN (...) predicate —
    the filter PUSHES INTO the parquet scan (PushedFilters + row-group
    stats skipping), so the full-precision column is read for the
    shortlist's row groups only, never full-scanned. A broadcast join
    here instead would stream the entire embedding column past the
    join — the difference between O(k) and O(N) IO at 100 TB."""
    spark = encoded.sparkSession
    q = V.normalize_py(list(target))
    scales = _scales(mins, maxs)
    bias = float(sum(m * qi for m, qi in zip(mins, q)))
    w = [s * qi for s, qi in zip(scales, q)]
    approx = F.lit(bias) + F.aggregate(
        F.zip_with(code_col, F.lit(w), lambda c, wi: c.cast("double") * wi),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cands = (
        encoded.select(id_col, code_col)
        .withColumn("approx_score", approx)
        .orderBy(F.desc("approx_score"), F.asc(id_col))
        .limit(oversample * k)
        .select(id_col, "approx_score")
        .collect()
    )
    approx_by_id = {r[id_col]: r["approx_score"] for r in cands}
    shortlist = spark.createDataFrame(
        [(i, s) for i, s in approx_by_id.items()],
        f"{id_col} long, approx_score double",
    )
    exact = (
        encoded.select(id_col, vec_col)
        .filter(F.col(id_col).isin(list(approx_by_id)))
        .join(F.broadcast(shortlist), id_col)
    )
    scored = exact.withColumn(
        "score", V.cosine(vec_col, V.literal_vector(list(target)))
    )
    return (
        scored.select(id_col, "score", "approx_score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
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
    """All queries in ONE corpus pass: decode codes to the approximate
    unit vector once per row (a codegen projection), take per-query
    ``oversample*k`` by approximate cosine via knn.knn_join's scoring
    kernel, then
    re-rank the candidate union exact. Corpus never shuffles; the only
    window is over candidates.

    Note the FLAT layout's re-rank join streams the (id, embedding)
    projection of the whole table past the broadcast — column-pruned
    but not row-bounded. That is inherent to an unpartitioned index; at
    100 TB use the IVF+SQ8 layout, whose batch re-rank is partition
    pruned (ivfsq_search_batch), or the single-query path, whose
    shortlist pushes an id IN (...) into the scan (sq8_search)."""
    approx_corpus = encoded.select(
        id_col, sq8_decode_expr(code_col, mins, maxs).alias("__avec")
    )
    cands = knn.knn_join(
        queries,
        approx_corpus,
        k=oversample * k,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        corpus_id_col=id_col,
        corpus_vec_col="__avec",
        score_col="approx_score",
    ).select(query_id_col, id_col)
    exact = (
        encoded.select(id_col, vec_col)
        .join(F.broadcast(cands), id_col)
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias(query_id_col),
                    F.col(query_vec_col).alias("__qv"),
                )
            ),
            query_id_col,
        )
        .withColumn("score", V.cosine(vec_col, "__qv"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        exact.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select(query_id_col, id_col, "score")
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
    from cyborgdb_encrypted_vector_search_spark.operators import ann as A

    assigned = A.assign_centroids(df, centroids, vec_col)
    enc = sq8_encode(assigned, mins, maxs, vec_col=vec_col)
    enc.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivfsq_probe_lists(
    centroids: DataFrame, targets: dict, nprobe: int = 4
) -> dict:
    """Probe lists for MANY query targets in ONE driver job (r12):
    the per-query ``ivfsq_search`` probe is a tiny
    TakeOrderedAndProject over the centroid table, but a serving gate
    that issues Q sequential searches paid Q driver jobs (and Q
    re-derivations of the centroid frame) just to pick 4 ids each.
    Union the Q per-target top-``nprobe`` subplans — each branch keeps
    the EXACT per-query selection expression (asc distance, asc id) —
    and collect once. Returns {query_key: [centroid_id, ...]} with
    each list in the same (distance, id) order the single-query path
    produces."""
    probes = None
    for key, target in sorted(targets.items()):
        t = V.literal_vector([float(x) for x in target])
        p = (
            centroids.withColumn("__d", V.l2_distance("centroid", t))
            .orderBy(F.asc("__d"), F.asc("centroid_id"))
            .limit(nprobe)
            .select(
                F.lit(key).alias("__qk"),
                "centroid_id",
                F.col("__d").alias("__dd"),
            )
        )
        probes = p if probes is None else probes.unionAll(p)
    out: dict = {k: [] for k in targets}
    for r in sorted(
        probes.collect(), key=lambda r: (r["__qk"], r["__dd"], r["centroid_id"])
    ):
        out[r["__qk"]].append(r["centroid_id"])
    return out


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
    probe_ids: list | None = None,
) -> DataFrame:
    """IVF+SQ8 probe search: nearest ``nprobe`` centroids (driver-side
    over the tiny centroid table, like ann.ivf_search), then the SQ8
    approximate-fold + exact re-rank runs over ONLY the probed
    partitions — ``centroid_id IN (...)`` is a PartitionFilter on a
    materialized layout, so unprobed lists cost zero IO.
    ``probe_ids`` (from :func:`ivfsq_probe_lists`) skips the per-query
    probe job when the caller batched the probes for many queries."""
    if probe_ids is None:
        t = V.literal_vector([float(x) for x in target])
        probe_ids = [
            r["centroid_id"]
            for r in centroids.withColumn(
                "__d", V.l2_distance("centroid", t)
            )
            .orderBy(F.asc("__d"), F.asc("centroid_id"))
            .limit(nprobe)
            .collect()
        ]
    probed = layout.filter(F.col("centroid_id").isin(list(probe_ids)))
    return sq8_search(
        probed, mins, maxs, target, k=k, oversample=oversample, id_col=id_col
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
    """Batch IVF+SQ8: every query's probe + quantized scan + re-rank as
    ONE declarative plan over the compressed layout (no per-query
    driver jobs; broadcast probe joins and rank windows, where
    ann.ivf_search_batch runs the knn.py kernel and a driver merge):

    1. queries x centroids (broadcast) -> per-query nprobe lists;
    2. the probe list broadcasts and hash-joins the layout on
       centroid_id — a code row is scored only against queries that
       probed its list, and the join reads the CODES column (the
       decode is a projection on top), never the full-precision one;
    3. approximate-cosine window keeps oversample*k per query;
    4. exact re-rank joins the survivors back to the full-precision
       column (broadcast — the shortlist is tiny) and takes top-k.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).alias("__qvec"),
    )
    cent = centroids.select("centroid_id", "centroid")
    wp = Window.partitionBy("__qid").orderBy(F.asc("__cd"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__cd", V.l2_distance("__qvec", "centroid"))
        .withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("__qid", "__qvec", "centroid_id")
    )
    approx_vec = sq8_decode_expr("codes", mins, maxs)
    wk = Window.partitionBy("__qid").orderBy(
        F.desc("approx_score"), F.asc(id_col)
    )
    shortlist = (
        layout.select(id_col, "centroid_id", "codes")
        .join(F.broadcast(probes), "centroid_id")
        .withColumn("approx_score", V.cosine(approx_vec, "__qvec"))
        .withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= oversample * k)
        .select("__qid", "__qvec", "centroid_id", id_col)
    )
    # re-rank joins on (centroid_id, id): the broadcast join on the
    # PARTITION column lets dynamic partition pruning restrict the
    # full-precision read to the probed partitions — without it this
    # scan would stream the entire embedding column past the join
    wr = Window.partitionBy("__qid").orderBy(F.desc("score"), F.asc(id_col))
    return (
        layout.select("centroid_id", id_col, "embedding")
        .join(F.broadcast(shortlist), ["centroid_id", id_col])
        .withColumn("score", V.cosine("embedding", "__qvec"))
        .withColumn("__r", F.row_number().over(wr))
        .filter(F.col("__r") <= k)
        .select(F.col("__qid").alias(query_id_col), id_col, "score")
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
    from cyborgdb_encrypted_vector_search_spark.operators import ann as A

    assigned = A.assign_centroids(df, centroids, vec_col)
    enc = sq8_encode(assigned, mins, maxs, vec_col=vec_col)
    enc.write.mode("append").partitionBy("centroid_id").parquet(path)

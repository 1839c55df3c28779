"""k-nearest-neighbor similarity search operators.

Re-creates the reference's two query shapes:

- score-against-one-target (reference src/app.py:133-134) — the target
  vector becomes a *literal* column, so the plan is scan → project →
  TakeOrderedAndProject: zero shuffles, zero joins, trivially parallel
  over any corpus size.
- kNN search, queries × corpus top-k (reference src/cod.py:124-129,
  ``n_results=3``) — the (small) query batch travels to the executors
  inside the closure of ONE ``mapInArrow`` kernel
  (:func:`topk_candidates`). Each partition scores its Arrow batches
  in numpy and keeps at most k candidates per query, so the corpus
  streams through one scan and what leaves a partition is
  O(queries × k), never O(corpus). The candidates are merged once,
  the distributed top-k shape of REPOSE (ICDE 2021): by a rank window
  over the candidates only (:func:`knn_join`, lazy) or on the driver
  (:func:`merge_topk`, the Collection serving path: one Spark job).

Scores are bit-identical to the JVM folds (``functions/vector.py``) and
so to the DuckDB oracle: dims are accumulated one by one
(``acc += u[:, j] * q[j]``, vectorized over rows, sequential over dims),
the left-fold order of ``aggregate(zip_with(...))``; no BLAS ``@``,
whose blocked summation would move the last bits.

Row semantics match the folds: a zero-norm corpus or query vector
scores the reference's ``-1.0`` cosine sentinel; a stored vector that
is null, empty or of another length than the queries scores null, and
null scores rank after every scored row. Determinism: ties broken by
ascending neighbor id everywhere so results are reproducible and
oracle-comparable.
"""

from __future__ import annotations

import functools
import sys
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cyborgdb_encrypted_vector_search_spark.functions import vector as V

METRICS = ("cosine", "l2")

# the kernel ships by value, so Python workers need not import this package
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def score_against_target(
    corpus: DataFrame,
    target: Sequence[float],
    embedding_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Add a cosine-vs-literal-target score column (reference src/app.py:134).

    Broadcast-degenerate join: the target is constant-folded into the
    projection; no shuffle at any scale.
    """
    return corpus.withColumn(
        score_col, V.cosine(F.col(embedding_col), V.literal_vector(target))
    )


def topk_against_target(
    corpus: DataFrame,
    target: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Global top-k by cosine vs one literal target.

    Plans as TakeOrderedAndProject (per-partition heap of k, merge on
    driver) — no global sort even over a 100 TB corpus.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scored = score_against_target(corpus, target, embedding_col, score_col)
    return scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


# --- the exact scoring kernel ------------------------------------------

def _check(k: int, metric: str) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}")


def _query_matrix(vecs: Sequence, metric: str) -> tuple[np.ndarray, np.ndarray]:
    """(queries x d matrix, zero-norm mask). Cosine queries are
    unit-normalized here with :func:`V.normalize_py`'s sequential fold,
    so they equal the JVM's ``with_unit_vectors`` bit for bit."""
    if any(v is None for v in vecs):
        raise ValueError("query vectors must not be null")
    vecs = [[float(x) for x in v] for v in vecs]
    d = len(vecs[0]) if vecs else 0
    if any(len(v) != d for v in vecs):
        raise ValueError(
            f"query vectors differ in length: {sorted({len(v) for v in vecs})}"
        )
    if vecs and d == 0:
        raise ValueError("query vectors must not be empty")
    if metric == "cosine":
        zero = np.array([V.norm_py(v) == 0.0 for v in vecs], dtype=bool)
        vecs = [V.normalize_py(v) for v in vecs]
    else:
        zero = np.zeros(len(vecs), dtype=bool)
    return np.array(vecs, dtype=np.float64).reshape(len(vecs), d), zero


def _vectors(col, d: int) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow list column as a float64 (valid rows x d) matrix, plus
    the mask of valid rows: non-null and exactly ``d`` long. Every other
    row scores null; a null element reads as NaN, so its row scores
    null too (NaN marks a null score throughout)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    ok = pc.fill_null(pc.equal(pc.list_value_length(col), d), False)
    ok = ok.to_numpy(zero_copy_only=False)
    x = pc.list_flatten(col.filter(pa.array(ok))).to_numpy(zero_copy_only=False)
    return x.astype(np.float64).reshape(-1, d), ok


def _rowsum(p: np.ndarray) -> np.ndarray:
    """Sum over dims as a left fold from 0.0 (the Spark ``aggregate``
    order), vectorized over rows."""
    acc = np.zeros(len(p))
    for j in range(p.shape[1]):
        acc += p[:, j]
    return acc


def _scores(
    t: pa.Table,
    qmat: np.ndarray,
    qzero: np.ndarray,
    metric: str,
    vec_col: str,
    use_unit: bool,
) -> np.ndarray:
    """Queries x rows score matrix; NaN marks a null score."""
    n_q, d = qmat.shape
    out = np.full((n_q, t.num_rows), np.nan)
    if metric == "cosine":
        if use_unit:
            u, ok = _vectors(t.column("unit"), d)
            cn = t.column("vnorm").to_numpy()[ok]
        else:
            x, ok = _vectors(t.column(vec_col), d)
            cn = np.sqrt(_rowsum(x * x))
            u = x / np.where(cn == 0.0, 1.0, cn)[:, None]
        ut = np.ascontiguousarray(u.T)
        acc = np.zeros((n_q, len(u)))
        for j in range(d):
            acc += qmat[:, j, None] * ut[j]
        acc[:, cn == 0.0] = -1.0
        acc[qzero] = -1.0
    else:
        x, ok = _vectors(t.column(vec_col), d)
        xt = np.ascontiguousarray(x.T)
        acc = np.zeros((n_q, len(x)))
        for j in range(d):
            diff = xt[j] - qmat[:, j, None]
            acc += diff * diff
        acc = np.sqrt(acc)
    out[:, ok] = acc
    return out


def _best(scores: np.ndarray, ids: np.ndarray, k: int, desc: bool) -> list:
    """For each query (row of ``scores``), the positions of its k best
    rows by (score, id asc), null scores last. Exact: every row tied
    with the k-th score is a candidate before the id tie-break."""
    key = -scores if desc else scores
    null = np.isnan(key)
    out = []
    for kq, nq in zip(key, null):
        cand = np.flatnonzero(~nq)
        if len(cand) > k:
            kth = np.partition(kq[cand], k - 1)[k - 1]
            cand = cand[kq[cand] <= kth]
        elif len(cand) < k:
            cand = np.concatenate([cand, np.flatnonzero(nq)])
        order = np.lexsort((ids[cand], np.where(nq[cand], 0.0, kq[cand]), nq[cand]))
        out.append(cand[order[:k]])
    return out


def _topk_partition(
    batches,
    qids: pa.Array,
    qmat: np.ndarray,
    qzero: np.ndarray,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    use_unit: bool,
    keep: list[str],
    names: list[str],
):
    """mapInArrow body: fold a partition's batches into the union of
    every query's running top-k (rows and their scores, so no row is
    scored twice), then emit (keep..., query id, score) for each
    query's final k."""
    if not len(qids):
        return
    desc = metric == "cosine"
    kept = kept_s = None
    for b in batches:
        t = pa.Table.from_batches([b])
        s = _scores(t, qmat, qzero, metric, vec_col, use_unit)
        if kept is not None:
            t, s = pa.concat_tables([kept, t]), np.hstack([kept_s, s])
        union = np.unique(np.concatenate(_best(s, t.column(id_col).to_numpy(), k, desc)))
        kept, kept_s = t.take(union), s[:, union]
    if kept is None or not kept.num_rows:
        return
    sel = _best(kept_s, kept.column(id_col).to_numpy(), k, desc)
    rows = np.concatenate(sel)
    qpos = np.repeat(np.arange(len(sel)), [len(x) for x in sel])
    score = kept_s[qpos, rows]
    cols = [c.combine_chunks() for c in kept.take(rows).select(keep).columns]
    cols += [qids.take(qpos), pa.array(score, pa.float64(), mask=np.isnan(score))]
    yield pa.RecordBatch.from_arrays(cols, names=names)


def topk_candidates(
    corpus: DataFrame,
    query_ids: Sequence,
    query_vecs: Sequence[Sequence[float]],
    k: int,
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_id_type: T.DataType = T.LongType(),
    score_col: str = "score",
) -> DataFrame:
    """Exact per-partition kNN candidates: for every query and every
    corpus partition, that partition's k best rows by (score, id asc),
    as (corpus columns..., ``query_id_col``, ``score_col``). Lazy; one
    narrow ``mapInArrow`` stage over the corpus scan, no exchange.

    The query matrix rides in the kernel's closure. Cosine reuses the
    corpus's ``unit``/``vnorm`` columns when present (the materialized
    projection of ``registry.unit_embeddings``; dropped from the
    output) and normalizes ``corpus_vec_col`` per batch otherwise.
    Callers finish with a rank over the candidates (:func:`knn_join`)
    or a driver merge (:func:`merge_topk`)."""
    from pyspark.sql.pandas.types import to_arrow_type

    _check(k, metric)
    qmat, qzero = _query_matrix(query_vecs, metric)
    use_unit = metric == "cosine" and {"unit", "vnorm"} <= set(corpus.columns)
    keep = [c for c in corpus.columns if not (use_unit and c in ("unit", "vnorm"))]
    schema = T.StructType(
        [corpus.schema[c] for c in keep]
        + [
            T.StructField(query_id_col, query_id_type),
            T.StructField(score_col, T.DoubleType()),
        ]
    )
    kernel = functools.partial(
        _topk_partition,
        qids=pa.array(list(query_ids), to_arrow_type(query_id_type)),
        qmat=qmat,
        qzero=qzero,
        k=k,
        metric=metric,
        id_col=corpus_id_col,
        vec_col=corpus_vec_col,
        use_unit=use_unit,
        keep=keep,
        names=schema.names,
    )
    return corpus.mapInArrow(kernel, schema)


def merge_topk(
    cands: pa.Table, k: int, query_id_col: str, corpus_id_col: str
) -> pa.Table:
    """Driver-side final merge of collected cosine
    :func:`topk_candidates`: each query's k best by (score desc, id
    asc), null scores last, in (query id, rank) order with a 1-based
    int ``rank`` column."""
    qid = cands.column(query_id_col).to_numpy()
    score = cands.column("score").to_numpy()
    ids = cands.column(corpus_id_col).to_numpy()
    rows, ranks = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int32)]
    for q in np.unique(qid):
        pos = np.flatnonzero(qid == q)
        top = pos[_best(score[None, pos], ids[pos], k, desc=True)[0]]
        rows.append(top)
        ranks.append(np.arange(1, len(top) + 1, dtype=np.int32))
    rank = pa.array(np.concatenate(ranks), pa.int32())
    return cands.take(np.concatenate(rows)).append_column("rank", rank)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
    rank_col: str | None = None,
) -> DataFrame:
    """Exact kNN: for each query row, the k nearest corpus rows.
    ``rank_col`` keeps the per-query 1-based neighbor rank in the
    output (the same row_number that enforces top-k — free to expose).

    Reference parity: ``collection.query(query_embeddings=[v],
    n_results=3)`` (src/cod.py:124-129) generalized to N queries.

    Physical plan: the query side (few rows) is collected once into the
    closure of :func:`topk_candidates`, so the corpus streams through
    one ``mapInArrow`` stage with no join. Only k candidates per query
    per partition reach the ``row_number`` window; Spark's
    WindowGroupLimit (4.x) adds a partial rank limit below its
    exchange, so the shuffle is O(queries × k × partitions). The
    result stays lazy; building it costs the one small query collect.
    """
    _check(k, metric)
    rows = queries.select(query_id_col, query_vec_col).collect()
    cands = topk_candidates(
        corpus,
        [r[0] for r in rows],
        [r[1] for r in rows],
        k,
        corpus_id_col=corpus_id_col,
        corpus_vec_col=corpus_vec_col,
        metric=metric,
        query_id_col=query_id_col,
        query_id_type=queries.schema[query_id_col].dataType,
        score_col=score_col,
    )
    best = F.desc_nulls_last if metric == "cosine" else F.asc_nulls_last
    w = Window.partitionBy(query_id_col).orderBy(
        best(score_col), F.asc(corpus_id_col)
    )
    ranked = cands.withColumn("__rank", F.row_number().over(w)).filter(
        F.col("__rank") <= k
    )
    if rank_col is None:
        return ranked.drop("__rank")
    return ranked.withColumnRenamed("__rank", rank_col)


def classify_by_vote(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
) -> DataFrame:
    """kNN classification: majority label among the k nearest corpus
    rows per query — the standard embedding-space labeler (weak
    labeling, quality-tier propagation, language-ID by example) and the
    eval harness for "are these embeddings any good".

    Ties break deterministically: more votes win; equal vote counts
    prefer the label whose best-ranked (nearest) witness comes first,
    then the smaller label. Returns (query_id, predicted, n_votes,
    best_rank).

    Scale shape: exactly :func:`knn_join` (queries in the scoring
    kernel's closure, corpus streams, only k candidates per query per
    partition reach the rank window) plus a |queries| x k -> |queries|
    map-side-combinable vote aggregate and a 1-row-per-query window.
    Nothing grows with corpus size.
    """
    nn = knn_join(
        queries,
        corpus,
        k=k,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        corpus_id_col=corpus_id_col,
        corpus_vec_col=corpus_vec_col,
        rank_col="__rank",
    )
    votes = nn.groupBy(query_id_col, label_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes"),
        F.min("__rank").cast("int").alias("best_rank"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("n_votes"), F.asc("best_rank"), F.asc(label_col)
    )
    return (
        votes.withColumn("__vr", F.row_number().over(w))
        .filter(F.col("__vr") == 1)
        .select(
            query_id_col,
            F.col(label_col).alias("predicted"),
            "n_votes",
            "best_rank",
        )
    )

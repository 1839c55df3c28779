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
- IVF (``operators/ann.py``) runs on the same kernel: a probed search
  passes a per-query probe mask, so a row is scored only against the
  queries that probed its inverted list, and assignment
  (:func:`nearest`) keeps each row's nearest centroid by the ``l2``
  fold — one narrow stage, every input row out exactly once.

Scores are bit-identical to the JVM folds (``functions/vector.py``) and
so to the DuckDB oracle: dims are accumulated one by one
(``acc += u[:, j] * q[j]``, vectorized over rows, sequential over dims),
the left-fold order of ``aggregate(zip_with(...))``; no BLAS ``@``,
whose blocked summation would move the last bits. The metrics:

- ``cosine``: unit vectors dotted, :func:`V.unit_cosine`'s order;
- ``cosine_ratio``: ``dot / (|x| |q|)``, :func:`V.cosine`'s order;
- ``l2``: :func:`V.l2_distance`.

Row semantics match the folds: a zero-norm corpus or query vector
scores the reference's ``-1.0`` cosine sentinel; a stored vector that
is null, empty or of another length than the queries scores null, and
null scores rank after every scored row. ``cosine_ratio`` keeps
:func:`V.cosine`'s one difference: a non-null stored vector of zero
norm scores ``-1.0`` whatever its length (so an empty one does too).
Determinism: ties broken by ascending neighbor id everywhere so results
are reproducible and oracle-comparable.
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

METRICS = ("cosine", "cosine_ratio", "l2")

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


def query_matrix(
    vecs: Sequence, metric: str, norms: Sequence[float] | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(queries x d matrix, zero-norm mask). Cosine queries are
    unit-normalized here with :func:`V.normalize_py`'s sequential fold,
    so they equal the JVM's ``with_unit_vectors`` bit for bit; the
    other metrics keep the raw vectors. Cosine queries that already are
    unit vectors come with their ``norms`` (``with_unit_vectors``'
    columns) and are kept as given, a zero norm marking the sentinel.
    Raises ``ValueError`` on null, empty or unequal-length vectors."""
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
    if norms is None:
        norms = [V.norm_py(v) for v in vecs]
        if metric == "cosine":
            vecs = [V.normalize_py(v) for v in vecs]
    zero = np.array([n == 0.0 for n in norms], dtype=bool)
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


def _dots(qmat: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Queries x rows dot products, the left fold over dims."""
    xt = np.ascontiguousarray(x.T)
    acc = np.zeros((len(qmat), len(x)))
    for j in range(qmat.shape[1]):
        acc += qmat[:, j, None] * xt[j]
    return acc


def l2_distances(qmat: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Queries x rows L2 distances, :func:`V.l2_distance`'s left fold
    over dims (bit-identical to it)."""
    xt = np.ascontiguousarray(x.T)
    acc = np.zeros((len(qmat), len(x)))
    for j in range(qmat.shape[1]):
        diff = xt[j] - qmat[:, j, None]
        acc += diff * diff
    return np.sqrt(acc)


def _zero_norm_other_rows(col, ok: np.ndarray) -> np.ndarray:
    """Mask of the rows outside ``ok`` (another length, empty included)
    that are non-null, have no null element and fold to a zero norm:
    :func:`V.cosine` gives them its -1.0 sentinel. Such rows are rare,
    so a Python fold is fine."""
    out = np.zeros(len(ok), dtype=bool)
    for i in np.flatnonzero(~ok):
        v = col[int(i)].as_py()
        if v is None or None in v:
            continue
        acc = 0.0
        for e in v:
            acc += e * e
        out[i] = acc == 0.0
    return out


def decode_codes(
    t: pa.Table,
    d: int,
    books: np.ndarray,
    code_col: str = "codes",
    centroids: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The decode hook of quantized rows (:func:`topk_candidates`'
    ``decode``): the ``code_col`` list of m codes becomes the (valid
    rows x d) float64 matrix ``concat_j books[j][code_j]``, ``books``
    being (m, codes per book, d/m). With ``centroids`` = (ascending
    ids, matrix) each row adds its ``centroid_id``'s centroid, which
    decodes IVFADC residual codes. A row whose code list is null or not
    m long scores null."""
    m = len(books)
    codes, ok = _vectors(t.column(code_col), m)
    x = books[np.arange(m), codes.astype(np.intp)].reshape(len(codes), m * books.shape[2])
    if x.shape[1] != d:
        raise ValueError(f"codes decode to {x.shape[1]} dims, the queries have {d}")
    if centroids is not None:
        ids, cmat = centroids
        x += cmat[np.searchsorted(ids, t.column("centroid_id").to_numpy()[ok])]
    return x, ok


def _scores(
    t: pa.Table,
    qmat: np.ndarray,
    qzero: np.ndarray,
    metric: str,
    vec_col: str,
    use_unit: bool,
    decode=None,
) -> np.ndarray:
    """Queries x rows score matrix; NaN marks a null score. The rows
    scored are the (valid rows x d) float64 matrix that ``decode(t, d)``
    returns with its valid-row mask: by default the ``vec_col`` list
    column (:func:`_vectors`; the ``unit`` column under ``use_unit``),
    the quantized rows' reconstruction (:func:`decode_codes`) or the
    decrypted rows (``crypto.decode_vectors``)."""
    n_q, d = qmat.shape
    out = np.full((n_q, t.num_rows), np.nan)
    col = None
    if use_unit:
        x, ok = _vectors(t.column("unit"), d)
    elif decode is not None:
        x, ok = decode(t, d)
    else:
        col = t.column(vec_col).combine_chunks()
        x, ok = _vectors(col, d)
    if metric == "cosine":
        if use_unit:
            cn = t.column("vnorm").to_numpy()[ok]
        else:
            cn = np.sqrt(_rowsum(x * x))
            x = x / np.where(cn == 0.0, 1.0, cn)[:, None]
        acc = _dots(qmat, x)
        acc[:, cn == 0.0] = -1.0
        acc[qzero] = -1.0
    elif metric == "cosine_ratio":
        cn = np.sqrt(_rowsum(x * x))
        qn = np.sqrt(_rowsum(qmat * qmat))
        with np.errstate(divide="ignore", invalid="ignore"):
            acc = _dots(qmat, x) / (cn * qn[:, None])
        acc[:, cn == 0.0] = -1.0
        if col is not None:
            out[:, _zero_norm_other_rows(col, ok)] = -1.0
    else:
        acc = l2_distances(qmat, x)
    out[:, ok] = acc
    if metric == "cosine_ratio":
        out[qzero] = -1.0  # V.cosine: a zero-norm query wins over a null row
    return out


def _best(
    scores: np.ndarray,
    ids: np.ndarray,
    k: int,
    desc: bool,
    live: np.ndarray | None = None,
) -> list:
    """For each query (row of ``scores``), the positions of its k best
    rows by (score, id asc), null scores last. Exact: every row tied
    with the k-th score is a candidate before the id tie-break. A
    ``live`` mask (queries x rows) limits each query to its own rows."""
    key = -scores if desc else scores
    null = np.isnan(key)
    out = []
    for i, (kq, nq) in enumerate(zip(key, null)):
        lq = True if live is None else live[i]
        cand = np.flatnonzero(~nq & lq)
        if len(cand) > k:
            kth = np.partition(kq[cand], k - 1)[k - 1]
            cand = cand[kq[cand] <= kth]
        elif len(cand) < k:
            cand = np.concatenate([cand, np.flatnonzero(nq & lq)])
        order = np.lexsort((ids[cand], np.where(nq[cand], 0.0, kq[cand]), nq[cand]))
        out.append(cand[order[:k]])
    return out


def _probed_scores(
    t: pa.Table,
    probe: tuple[str, dict, list],
    qmat: np.ndarray,
    qzero: np.ndarray,
    metric: str,
    vec_col: str,
    use_unit: bool,
    decode,
) -> tuple[np.ndarray, np.ndarray]:
    """(scores, live) for a probed search: each row is scored only
    against the queries that probed its list; ``live`` marks those
    (query, row) pairs, every other entry is no candidate at all.
    ``probe`` maps each list to the index of its set of queries, so
    rows probed by the same queries are scored together: an id-probed
    re-rank costs one pass per distinct query set, not one per row."""
    list_col, set_of, sets = probe
    g = np.array([set_of.get(c, -1) for c in t.column(list_col).to_pylist()], dtype=np.int64)
    s = np.full((len(qmat), t.num_rows), np.nan)
    live = np.zeros(s.shape, dtype=bool)
    for i in np.unique(g[g >= 0]):
        rows = np.flatnonzero(g == i)
        cell = np.ix_(sets[i], rows)
        s[cell] = _scores(
            t.take(rows), qmat[sets[i]], qzero[sets[i]], metric, vec_col, use_unit, decode
        )
        live[cell] = True
    return s, live


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
    probe: tuple[str, dict, list] | None,
    decode,
):
    """mapInArrow body: fold a partition's batches into the union of
    every query's running top-k (rows and their scores, so no row is
    scored twice), then emit (keep..., query id, score) for each
    query's final k."""
    if not len(qids):
        return
    desc = metric != "l2"
    kept = kept_s = kept_live = live = None
    for b in batches:
        t = pa.Table.from_batches([b])
        if probe is None:
            s = _scores(t, qmat, qzero, metric, vec_col, use_unit, decode)
        else:
            s, live = _probed_scores(
                t, probe, qmat, qzero, metric, vec_col, use_unit, decode
            )
        if kept is not None:
            t, s = pa.concat_tables([kept, t]), np.hstack([kept_s, s])
            if live is not None:
                live = np.hstack([kept_live, live])
        ids = t.column(id_col).to_numpy()
        union = np.unique(np.concatenate(_best(s, ids, k, desc, live)))
        kept, kept_s = t.take(union), s[:, union]
        kept_live = None if live is None else live[:, union]
    if kept is None or not kept.num_rows:
        return
    sel = _best(kept_s, kept.column(id_col).to_numpy(), k, desc, kept_live)
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
    probes: tuple[str, Sequence[Sequence]] | None = None,
    decode=None,
    query_norms: Sequence[float] | None = None,
) -> DataFrame:
    """Exact per-partition kNN candidates: for every query and every
    corpus partition, that partition's k best rows by (score, id asc),
    as (corpus columns..., ``query_id_col``, ``score_col``). Lazy; one
    narrow ``mapInArrow`` stage over the corpus scan, no exchange.

    The query matrix rides in the kernel's closure. Cosine reuses the
    corpus's ``unit``/``vnorm`` columns when present (the materialized
    projection of ``registry.unit_embeddings``; dropped from the
    output) and normalizes ``corpus_vec_col`` per batch otherwise;
    ``query_norms`` marks cosine queries given as unit vectors (see
    :func:`query_matrix`). ``probes = (list_col, lists)`` restricts
    query ``i`` to the rows whose ``list_col`` is in ``lists[i]`` (the
    IVF probe mask, or a per-query id shortlist): the corpus is
    filtered to the union of the lists (partition pruning on a layout
    partitioned by ``list_col``, a pushed ``IN`` on a file scan), and
    other rows are never scored against query ``i``. ``decode`` is the
    hook that turns an Arrow batch into the matrix the metric scores
    (:func:`decode_codes` for quantized rows, ``crypto.decode_vectors``
    for ciphertext), in place of ``corpus_vec_col``. Callers finish
    with a rank over the candidates (:func:`knn_join`) or a driver
    merge (:func:`merge_topk`)."""
    from pyspark.sql.pandas.types import to_arrow_type

    _check(k, metric)
    qmat, qzero = query_matrix(query_vecs, metric, query_norms)
    use_unit = (
        decode is None
        and metric == "cosine"
        and {"unit", "vnorm"} <= set(corpus.columns)
    )
    keep = [c for c in corpus.columns if not (use_unit and c in ("unit", "vnorm"))]
    probe = None
    if probes is not None:
        list_col, lists = probes
        probed_by: dict = {}
        for i, ls in enumerate(lists):
            for c in set(ls):
                probed_by.setdefault(c, []).append(i)
        sets: dict = {}
        set_of = {c: sets.setdefault(tuple(qs), len(sets)) for c, qs in probed_by.items()}
        probe = (list_col, set_of, [np.array(qs) for qs in sets])
        corpus = corpus.filter(F.col(list_col).isin(sorted(probed_by)))
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
        probe=probe,
        decode=decode,
    )
    return corpus.mapInArrow(kernel, schema)


def _nearest_partition(batches, ids: pa.Array, cmat: np.ndarray, vec_col: str, name: str):
    """mapInArrow body of :func:`nearest`: every row once, plus the id
    of its nearest vector; ``ids`` ascend, so ``argmin`` (first
    minimum) breaks distance ties by the smaller id, and a row with no
    distance (null, empty, other length) takes the smallest id."""
    zero = np.zeros(len(cmat), dtype=bool)
    for b in batches:
        s = _scores(pa.Table.from_batches([b]), cmat, zero, "l2", vec_col, False)
        best = np.argmin(np.where(np.isnan(s), np.inf, s), axis=0)
        yield pa.RecordBatch.from_arrays(
            [*b.columns, ids.take(best)], names=[*b.schema.names, name]
        )


def nearest(
    df: DataFrame,
    ids: Sequence,
    vecs: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    out_type: T.DataType = T.IntegerType(),
) -> DataFrame:
    """Every row of ``df`` plus ``out_col``: the id of its nearest
    vector in ``vecs`` by L2, ties to the smaller id (the
    ``min_by(id, struct(dist, id))`` of a cross join, which IVF
    assignment used to run). Lazy; one narrow ``mapInArrow`` stage,
    the vectors in the closure, no join and no exchange."""
    from pyspark.sql.pandas.types import to_arrow_type

    if not len(ids):
        raise ValueError("nearest: no vectors to assign to")
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    cmat, _ = query_matrix([vecs[i] for i in order], "l2")
    kernel = functools.partial(
        _nearest_partition,
        ids=pa.array([ids[i] for i in order], to_arrow_type(out_type)),
        cmat=cmat,
        vec_col=vec_col,
        name=out_col,
    )
    schema = T.StructType(df.schema.fields + [T.StructField(out_col, out_type)])
    return df.mapInArrow(kernel, schema)


def merge_topk(
    cands: pa.Table,
    k: int,
    query_id_col: str,
    corpus_id_col: str,
    desc: bool = True,
) -> pa.Table:
    """Driver-side final merge of collected :func:`topk_candidates`:
    each query's k best by (score desc — ascending for ``l2``, pass
    ``desc=False`` — id asc), null scores last, in (query id, rank)
    order with a 1-based int ``rank`` column."""
    qid = cands.column(query_id_col).to_numpy()
    score = cands.column("score").to_numpy()
    ids = cands.column(corpus_id_col).to_numpy()
    rows, ranks = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int32)]
    for q in np.unique(qid):
        pos = np.flatnonzero(qid == q)
        top = pos[_best(score[None, pos], ids[pos], k, desc)[0]]
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

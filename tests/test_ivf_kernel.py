"""IVF on the exact Arrow kernel (operators/ann.py over operators/knn.py):
assignment equals the cross-join + min_by plan it replaced, batch
search equals the per-query search score for score, bad input fails
before any Spark job, and the job counts of a build and a search."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import ann

D = 4


def _jobs(spark, name, fn):
    """(fn's result, number of Spark jobs it ran), via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


def _frame(spark, rows, schema, parts=4):
    """A frame whose rows are split into ``parts`` contiguous slices."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)


def _centroids(spark, cents):
    """A local (Arrow) centroid table, like kmeans_centroids' output."""
    return spark.createDataFrame(pa.table({
        "centroid_id": pa.array([c for c, _ in cents], pa.int32()),
        "centroid": pa.array([v for _, v in cents], pa.list_(pa.float64())),
    }))


def _old_assign(df, cent):
    """The plan assignment used to run, as the oracle: cross join,
    V.l2_distance per pair, min_by over (distance, centroid id). A row
    key keeps duplicate input rows apart (the old groupBy merged them)."""
    keyed = df.withColumn("__row", F.monotonically_increasing_id())
    c = cent.select(
        F.col("centroid_id").alias("__cid"), F.col("centroid").alias("__cvec")
    )
    return (
        keyed.crossJoin(c)
        .withColumn("__dist", V.l2_distance("embedding", "__cvec"))
        .groupBy("__row", *df.columns)
        .agg(F.min_by("__cid", F.struct("__dist", "__cid")).alias("centroid_id"))
        .drop("__row")
    )


def _bag(rows):
    return Counter(
        (r["vec_id"], None if r["embedding"] is None else tuple(r["embedding"]),
         r["centroid_id"])
        for r in rows
    )


# centroid ids out of order on purpose: ties must go to the smaller id
CENTS = [
    (5, [0.0, 2.0, 0.0, 0.0]),
    (0, [0.0, 0.0, 0.0, 0.0]),
    (2, [2.0, 0.0, 0.0, 0.0]),
]


def test_assign_equals_cross_join_min_by(spark):
    rng = np.random.default_rng(3)
    rows = [(i, [float(v) for v in rng.normal(size=D).astype(np.float32)])
            for i in range(40)]
    rows += [
        (100, [1.0, 0.0, 0.0, 0.0]),   # equidistant from centroids 0 and 2
        (101, [1.0, 1.0, 0.0, 0.0]),   # equidistant from 0, 2 and 5
        (102, [2.0, 2.0, 0.0, 0.0]),   # equidistant from 2 and 5
        (103, None),                   # null vector
        (104, []),                     # empty vector
        (105, [0.0, 2.0, 0.0]),        # wrong length
        (106, [2.0, None, 0.0, 0.0]),  # null element
    ]
    rows += [rows[0], rows[0], (100, [1.0, 0.0, 0.0, 0.0])]  # duplicates
    df = _frame(spark, rows, "vec_id long, embedding array<float>")
    cent = _centroids(spark, CENTS)

    got = ann.assign_centroids(df, cent).collect()
    assert _bag(got) == _bag(_old_assign(df, cent).collect())
    assert len(got) == len(rows)  # every input row exactly once
    by_id = {r["vec_id"]: r["centroid_id"] for r in got}
    assert by_id[100] == 0 and by_id[101] == 0 and by_id[102] == 2
    assert all(by_id[i] == 0 for i in (103, 104, 105, 106))
    assert ann.assign_centroids(df, cent).schema["centroid_id"].dataType.typeName() == "integer"


def _search_corpus(spark):
    """Four lists over four slices. List 0 holds a 6-way tie group (the
    same vector under 6 ids) plus noise; list 1 has just two valid rows
    and a null, an empty and a wrong-length vector; lists 2 and 3 hold
    noise."""
    rng = np.random.default_rng(5)
    tie = [1.0, 0.5, 0.0, 0.0]
    rows = []
    for i in range(48):
        lst = i % 4
        vec = [float(v) for v in rng.normal(size=D)]
        if lst == 0 and i % 8 == 0:
            vec = tie
        elif lst == 1 and i > 8:
            continue
        rows.append((i, vec, lst))
    rows += [(201, None, 1), (202, [], 1), (203, [1.0, 2.0], 1)]
    rows.sort(key=lambda r: (r[0] * 7919) % 97)  # spread lists over slices
    return _frame(
        spark, rows, "vec_id long, embedding array<float>, centroid_id int"
    ), tie


SEARCH_CENTS = [
    (0, [1.0, 0.5, 0.0, 0.0]),
    (1, [-3.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 0.0, 3.0, 0.0]),
    (3, [0.0, 0.0, 0.0, -3.0]),
]


def _per_query(corpus, cent, qvecs, k, nprobe):
    out = {}
    for qid, v in qvecs:
        res = ann.ivf_search(corpus, cent, v, k=k, nprobe=nprobe).collect()
        out[qid] = [(r["vec_id"], r["score"]) for r in res]
    return out


def _batch(spark, corpus, cent, qvecs, k, nprobe):
    queries = spark.createDataFrame(qvecs, "query_id long, query_vec array<double>")
    got = {}
    for r in ann.ivf_search_batch(queries, corpus, cent, k=k, nprobe=nprobe).collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    return got


def test_batch_equals_per_query_scores(spark):
    corpus, tie = _search_corpus(spark)
    spread = (
        corpus.filter(F.col("embedding") == F.array(*map(F.lit, tie)).cast("array<float>"))
        .select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert spread >= 3  # the tie group spans at least three partitions
    cent = _centroids(spark, SEARCH_CENTS)
    qvecs = [
        (0, [1.0, 0.5, 0.0, 0.0]),    # probes list 0: the tie group, cut at k
        (1, [-2.0, 0.1, 0.0, 0.0]),   # probes list 1: fewer valid rows than k
        (2, [0.3, -0.2, 1.0, 0.4]),
        (3, [0.0, 0.0, 0.0, 0.0]),    # zero-norm query: the -1.0 sentinel
    ]
    for k, nprobe in ((4, 1), (4, 2), (9, 1), (5, 4), (6, 9)):
        want = _per_query(corpus, cent, qvecs, k, nprobe)
        assert _batch(spark, corpus, cent, qvecs, k, nprobe) == want, (k, nprobe)
    # the tie group cut by k=4 keeps its four smallest ids
    want = _per_query(corpus, cent, qvecs, 4, 1)
    assert [i for i, _ in want[0]] == [0, 8, 16, 24]
    # list 1 holds 5 rows for k=9: two scored, the empty vector's -1.0
    # (V.cosine's zero-norm sentinel), then the null scores by id
    hits = _per_query(corpus, cent, qvecs, 9, 1)[1]
    assert [i for i, _ in hits][2:] == [202, 201, 203]
    assert [s for _, s in hits][2:] == [-1.0, None, None]


def test_build_and_search_job_counts(spark, tmp_path):
    rng = np.random.default_rng(7)
    rows = [(i, [float(v) for v in rng.normal(size=D)]) for i in range(60)]
    emb = _frame(spark, rows, "vec_id long, embedding array<double>")
    cent = ann.kmeans_centroids(emb, k=3, seed=1, max_iter=2)
    _, n = _jobs(spark, "ivf_cent_read", cent.collect)
    assert n == 0

    path = str(tmp_path / "ivf")
    _, n = _jobs(spark, "ivf_build", lambda: ann.build_ivf_layout(emb, cent, path))
    assert n == 1
    layout = spark.read.parquet(path)
    assert layout.count() == len(rows)

    queries = spark.createDataFrame(rows[:5], "query_id long, query_vec array<double>")
    res, n = _jobs(
        spark, "ivf_search",
        lambda: ann.ivf_search_batch(queries, layout, cent, k=3, nprobe=2).collect(),
    )
    assert n == 2
    assert len(res) == 15 and {r["query_id"] for r in res} == set(range(5))


def test_bad_input_raises_before_any_job(spark):
    rng = np.random.default_rng(9)
    rows = [(i, [float(v) for v in rng.normal(size=D)]) for i in range(12)]
    corpus = ann.assign_centroids(
        _frame(spark, rows, "vec_id long, embedding array<double>"),
        _centroids(spark, CENTS),
    )
    cent = _centroids(spark, CENTS)
    empty = _centroids(spark, [])

    def local_queries(vecs):
        return spark.createDataFrame(pa.table({
            "query_id": pa.array(range(len(vecs)), pa.int64()),
            "query_vec": pa.array(vecs, pa.list_(pa.float64())),
        }))

    good = local_queries([[1.0, 0.0, 0.0, 0.0]])
    cases = {
        "k": lambda: ann.ivf_search_batch(good, corpus, cent, k=0),
        "nprobe": lambda: ann.ivf_search_batch(good, corpus, cent, nprobe=0),
        "empty_centroids": lambda: ann.ivf_search_batch(good, corpus, empty),
        "short_query": lambda: ann.ivf_search_batch(
            local_queries([[1.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0]]), corpus, cent
        ),
        "long_query": lambda: ann.ivf_search_batch(
            local_queries([[1.0, 0.0, 0.0, 0.0, 0.0]]), corpus, cent
        ),
        "assign_empty_centroids": lambda: ann.assign_centroids(corpus, empty),
    }
    tracker = spark.sparkContext.statusTracker()
    for name, call in cases.items():
        with pytest.raises(ValueError):
            _jobs(spark, f"ivf_bad_{name}", call)
        assert not tracker.getJobIdsForGroup(f"ivf_bad_{name}"), name

"""The exact Arrow/numpy kNN kernel (operators/knn.topk_candidates):
bit parity with the JVM folds, exact ties, null/sentinel row semantics,
empty results, input validation, and one Spark job per serving call."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import crypto
from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import knn
from cyborgdb_encrypted_vector_search_spark.sources.collections import Collection

KEY = "0123456789abcdef"


def _jobs(spark, name, fn):
    """(fn's result, number of Spark jobs it ran), via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


def _corpus(spark, x, parts=3):
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(
        parts
    )


def _queries(spark, q):
    return spark.createDataFrame(
        [(i, [float(v) for v in q[i]]) for i in range(len(q))],
        "query_id long, query_vec array<double>",
    )


def _all_scores(df):
    return {(r["query_id"], r["vec_id"]): r["score"] for r in df.collect()}


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(11)
    x = rng.normal(size=(60, 12)).astype(np.float32)
    x[7] = 0.0  # zero-norm corpus row: the -1.0 sentinel
    q = rng.normal(size=(4, 12))
    return x, q


def test_kernel_cosine_bit_identical_to_fold(spark, data):
    x, q = data
    corpus, queries = _corpus(spark, x), _queries(spark, q)
    # the JVM fold, per pair: unit vectors once per row, then unit_cosine
    cu = V.with_unit_vectors(corpus, "embedding", "cu", "cn")
    qu = V.with_unit_vectors(queries, "query_vec", "qu", "qn")
    fold = _all_scores(
        cu.crossJoin(qu).withColumn("score", V.unit_cosine("cu", "qu", "cn", "qn"))
    )
    raw = _all_scores(knn.knn_join(queries, corpus, k=len(x)))
    assert raw == fold  # exact, not approx
    # a corpus carrying the materialized unit/vnorm projection
    with_unit = V.with_unit_vectors(corpus, "embedding")
    assert _all_scores(knn.knn_join(queries, with_unit, k=len(x))) == fold
    assert all(fold[(i, 7)] == -1.0 for i in range(len(q)))


def test_kernel_l2_bit_identical_to_fold(spark, data):
    x, q = data
    corpus, queries = _corpus(spark, x), _queries(spark, q)
    fold = _all_scores(
        corpus.crossJoin(queries).withColumn(
            "score", V.l2_distance("embedding", "query_vec")
        )
    )
    assert _all_scores(knn.knn_join(queries, corpus, k=len(x), metric="l2")) == fold


def test_tie_group_across_partitions_breaks_by_id(spark, tmp_path):
    rng = np.random.default_rng(5)
    x = rng.normal(size=(40, 8)).astype(np.float32)
    dup = x[3].copy()
    tie_ids = [3, 9, 14, 22, 27, 31, 38]
    for i in tie_ids:
        x[i] = dup
    corpus = _corpus(spark, x, parts=4)
    spread = {
        r["p"]
        for r in corpus.filter(F.col("vec_id").isin(tie_ids))
        .select(F.spark_partition_id().alias("p"))
        .collect()
    }
    assert len(spread) >= 3
    k = 4  # cuts through the 7-way tie
    x64, d64 = x.astype(np.float64), dup.astype(np.float64)
    want = (x64 / np.linalg.norm(x64, axis=1)[:, None]) @ (d64 / np.linalg.norm(d64))

    got = (
        knn.knn_join(_queries(spark, [dup]), corpus, k=k, rank_col="rank")
        .orderBy("rank")
        .collect()
    )
    assert [r["vec_id"] for r in got] == tie_ids[:k]
    assert all(abs(r["score"] - want[r["vec_id"]]) <= 1e-9 for r in got)

    coll = Collection.create(spark, "ties", str(tmp_path))
    coll.add(
        corpus.select(
            F.format_string("%03d", "vec_id").alias("id"),
            F.lit("d").alias("document"),
            "embedding",
        ),
        id_col="id",
    )
    hits = coll.query(query_embeddings=[dup.tolist()], n_results=k).collect()
    assert [r["id"] for r in hits] == [f"{i:03d}" for i in tie_ids[:k]]
    assert [r["rank"] for r in hits] == list(range(1, k + 1))
    assert all(
        abs(r["distance"] - (1.0 - want[int(r["id"])])) <= 1e-9 for r in hits
    )


def test_sentinel_and_null_rows(spark, tmp_path):
    rows = [
        ("a", [1.0, 0.0, 0.0]),
        ("b", [0.0, 0.0, 0.0]),  # zero norm: sentinel -1.0
        ("c", None),  # null: scores null
        ("d", []),  # empty, as a plain scan of an encrypted table
        ("e", [1.0, 2.0]),  # wrong length
        ("f", [0.5, 0.5, 0.0]),
        ("g", [1.0, None, 0.0]),  # null element
    ]
    corpus = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    queries = _queries(spark, [[1.0, 0.0, 0.0]])
    got = (
        knn.knn_join(queries, corpus, k=7, rank_col="rank").orderBy("rank").collect()
    )
    assert [r["vec_id"] for r in got] == ["a", "f", "b", "c", "d", "e", "g"]
    assert [r["score"] for r in got[2:]] == [-1.0, None, None, None, None]
    l2 = knn.knn_join(queries, corpus, k=7, metric="l2", rank_col="rank")
    assert [r["vec_id"] for r in l2.orderBy("rank").collect()][3:] == ["c", "d", "e", "g"]

    zero_q = knn.knn_join(_queries(spark, [[0.0, 0.0, 0.0]]), corpus, k=7)
    assert sorted(r["score"] for r in zero_q.collect() if r["score"] is not None) == [
        -1.0
    ] * 4

    coll = Collection.create(spark, "nulls", str(tmp_path))
    coll.add(
        corpus.select(F.col("vec_id").alias("id"), F.lit("x").alias("document"), "embedding"),
        id_col="id",
    )
    hits = coll.query(query_embeddings=[[1.0, 0.0, 0.0]], n_results=7).collect()
    assert [r["id"] for r in hits] == ["a", "f", "b", "c", "d", "e", "g"]
    assert hits[2]["distance"] == 2.0
    assert [r["distance"] for r in hits[3:]] == [None, None, None, None]
    assert not any(
        isinstance(r["distance"], float) and math.isnan(r["distance"]) for r in hits
    )


def test_empty_collection_and_unmatched_where(spark, tmp_path):
    cols = ["query_idx", "rank", "id", "document", "distance"]
    for buckets in (None, 4):
        empty = Collection.create(
            spark, f"empty{buckets}", str(tmp_path), dim=3, buckets=buckets
        )
        res = empty.query(query_embeddings=[[1.0, 0.0, 0.0]], n_results=3)
        assert res.columns == cols and res.collect() == []
    coll = Collection.create(spark, "tagged", str(tmp_path), dim=3)
    coll.add(
        spark.createDataFrame(
            [("1", "x", [1.0, 0.0, 0.0], {"t": "a"})],
            "id string, document string, embedding array<float>, "
            "metadata map<string,string>",
        ),
        id_col="id",
        metadata_col="metadata",
    )
    res = coll.query(query_embeddings=[[1.0, 0.0, 0.0]], where={"t": "zzz"})
    assert res.columns == cols and res.collect() == []


def test_query_input_validated_before_any_job(spark, tmp_path):
    coll = Collection.create(spark, "novalid", str(tmp_path))
    bad = [
        dict(query_embeddings=[]),
        dict(query_embeddings=[[1.0, 0.0]], n_results=0),
        dict(query_embeddings=[[1.0, 0.0], [1.0, 0.0, 0.0]]),
    ]
    for kwargs in bad:
        with pytest.raises(ValueError):
            _jobs(spark, "validate", lambda: coll.query(**kwargs))
        assert spark.sparkContext.statusTracker().getJobIdsForGroup("validate") == []


@pytest.mark.parametrize("key", ["k" * 15, "k" * 33])
def test_bad_aes_key_length_raises_before_any_job(spark, tmp_path, key):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0], "doc")], "id string, embedding array<float>, document string"
    )
    enc = Collection.create(spark, "badkey", str(tmp_path), dim=3)
    enc.add_encrypted(df, KEY, id_col="id")
    dest = tmp_path / "rotated"
    calls = {
        "add_encrypted": lambda: enc.add_encrypted(df, key, id_col="id"),
        "query_encrypted": lambda: enc.query_encrypted(key, query_embeddings=[[1.0, 0.0, 0.0]]),
        "decrypt": lambda: enc.decrypt(key),
        "rotate_old": lambda: enc.rotate_key(key, KEY, str(dest)),
        "rotate_new": lambda: enc.rotate_key(KEY, key, str(dest)),
    }
    for name, call in calls.items():
        group = f"badkey_{name}_{len(key)}"
        with pytest.raises(ValueError, match=f"got {len(key)}") as err:
            _jobs(spark, group, call)
        assert key not in str(err.value)
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(group) == []
    assert not dest.exists()
    for helper in (crypto.encrypt_vector, crypto.decrypt_vector,
                   crypto.encrypt_text, crypto.decrypt_text):
        with pytest.raises(ValueError):
            helper("v", key)
    for good in ("k" * 16, "k" * 24, "k" * 32, "é" * 8):
        crypto.check_key(good)


def test_rotate_key_refuses_occupied_destination(spark, tmp_path):
    """Rotating into a base dir that already holds a collection of the
    same name (another one, or the source's own) raises before any job:
    appending there would leave rows under two keys, which no key reads."""
    df = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0], "doc a"), ("b", [0.0, 1.0, 0.0], "doc b")],
        "id string, embedding array<float>, document string",
    )
    src = Collection.create(spark, "occupied", str(tmp_path / "src"), dim=3)
    src.add_encrypted(df, KEY, id_col="id")
    other = tmp_path / "other"
    Collection.create(spark, "occupied", str(other), dim=3)
    new_key = "fedcba9876543210"
    for i, dest in enumerate((other, tmp_path / "src")):
        group = f"rotate_occupied_{i}"
        with pytest.raises(FileExistsError):
            _jobs(spark, group, lambda: src.rotate_key(KEY, new_key, str(dest)))
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(group) == []
    assert src.count() == 2
    got = {r["id"]: (r["document"], r["embedding"]) for r in src.decrypt(KEY).collect()}
    assert got == {"a": ("doc a", [1.0, 0.0, 0.0]), "b": ("doc b", [0.0, 1.0, 0.0])}


def test_one_job_per_serving_call(spark, tmp_path):
    rng = np.random.default_rng(3)
    # float32-exact doubles: the plain (float32) and encrypted (JSON
    # doubles) stores then hold the same vectors
    x = rng.normal(size=(200, 8)).astype(np.float32).astype(np.float64)
    df = spark.createDataFrame(
        [
            (str(i), f"doc {i}", x[i].tolist(), {"t": str(i % 2)})
            for i in range(len(x))
        ],
        "id string, document string, embedding array<double>, "
        "metadata map<string,string>",
    )
    plain = Collection.create(spark, "jobs_plain", str(tmp_path), dim=8)
    plain.add(df, id_col="id", metadata_col="metadata")
    enc = Collection.create(spark, "jobs_enc", str(tmp_path))
    enc.add_encrypted(df, KEY, id_col="id", metadata_col="metadata")
    bkt = Collection.create(spark, "jobs_bkt", str(tmp_path), dim=8, buckets=4)
    bkt.add(df, id_col="id", metadata_col="metadata")
    q = [x[5].tolist()]
    calls = {
        "query": lambda: plain.query(query_embeddings=q, n_results=5),
        "query_batch": lambda: plain.query(
            query_embeddings=x[:16].tolist(), n_results=5
        ),
        "query_where": lambda: plain.query(
            query_embeddings=q, n_results=5, where={"t": "1"}
        ),
        "query_encrypted": lambda: enc.query_encrypted(
            KEY, query_embeddings=q, n_results=5
        ),
        "get": lambda: bkt.get(["5", "17", "nope"]),
    }
    for name, call in calls.items():
        res, n = _jobs(spark, f"jobs_{name}", lambda: call().collect())
        assert n == 1, (name, n)
        assert res, name
    hits = plain.query(query_embeddings=q, n_results=5).collect()
    assert hits[0]["id"] == "5"
    enc_hits = enc.query_encrypted(KEY, query_embeddings=q, n_results=5).collect()
    assert [(r["id"], r["distance"]) for r in enc_hits] == [
        (r["id"], r["distance"]) for r in hits
    ]

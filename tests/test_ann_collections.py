"""ANN layout/recall tests + collection CRUD incl. encrypted variant."""

from __future__ import annotations

import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import ann, knn
from cyborgdb_encrypted_vector_search_spark.operators.layout import (
    compact_partitioned_layout,
)
from cyborgdb_encrypted_vector_search_spark.sources.collections import (
    Collection,
    list_collections,
)
from cyborgdb_encrypted_vector_search_spark.sources.registry import load


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, "embeddings", sf_dir)


def test_lsh_bucket_deterministic_and_bounded(spark, emb):
    b = ann.with_lsh_buckets(emb, n_planes=8, seed=7, dim=64)
    stats = b.agg(F.min("bucket"), F.max("bucket")).collect()[0]
    assert 0 <= stats[0] and stats[1] < 256
    again = ann.with_lsh_buckets(emb, n_planes=8, seed=7, dim=64)
    assert b.select("vec_id", "bucket").collect() == again.select("vec_id", "bucket").collect()


def test_multiprobe_recall_beats_single_bucket(spark, emb):
    # recall@3 over 20 query vectors: multiprobe >= single bucket
    un = V.with_unit_vectors(emb.select("vec_id", "embedding"), "embedding")
    bucketed = un.withColumn(
        "bucket", ann.lsh_bucket("embedding", ann.hyperplanes(64, 8, 7))
    ).cache()
    qids = [r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").limit(20).collect()]
    single_hits = multi_hits = 0
    for qid in qids:
        t = bucketed.filter(F.col("vec_id") == qid).select(
            F.col("unit").alias("__tu"), F.col("vnorm").alias("__tn"),
            F.col("bucket").alias("__tb"),
        )
        scored = bucketed.crossJoin(F.broadcast(t)).withColumn(
            "score", V.unit_cosine("unit", "__tu", "vnorm", "__tn")
        )
        truth = {r["vec_id"] for r in scored.orderBy(F.desc("score"), "vec_id").limit(3).collect()}
        sb = {r["vec_id"] for r in scored.filter(F.col("bucket") == F.col("__tb"))
              .orderBy(F.desc("score"), "vec_id").limit(3).collect()}
        probes = t.select(F.explode(ann.multiprobe_buckets("__tb", 8)).alias("bucket")).distinct()
        mp = {r["vec_id"] for r in scored.join(F.broadcast(probes), "bucket")
              .orderBy(F.desc("score"), "vec_id").limit(3).collect()}
        single_hits += len(truth & sb)
        multi_hits += len(truth & mp)
    assert multi_hits >= single_hits
    assert multi_hits >= 20  # at least the query vector itself + some


def test_ivf_layout_partition_pruning(spark, emb, tmp_path):
    cent = ann.kmeans_centroids(emb, k=8, seed=42)
    path = str(tmp_path / "ivf")
    ann.build_ivf_layout(emb, cent, path)
    # layout materialized as centroid_id=N directories
    parts = sorted(p for p in os.listdir(path) if p.startswith("centroid_id="))
    assert len(parts) >= 2
    table = spark.read.parquet(path)
    probe = table.filter(F.col("centroid_id").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # partition filter must prune; scanned partition count < total
    assert "PartitionFilters" in plan
    target = [r["embedding"] for r in emb.filter("vec_id = 5").collect()][0]
    res = ann.ivf_search(table, cent, target, k=3, nprobe=2).collect()
    assert len(res) == 3
    assert res[0]["score"] >= res[1]["score"] >= res[2]["score"]


def test_ivf_search_batch_equals_per_query(spark, emb):
    """One-plan batch IVF returns exactly what the per-query driver
    loop returns, query by query — same probes, same ranks, same
    tie-breaks."""
    cent = ann.kmeans_centroids(emb, k=8, seed=42)
    assigned = ann.assign_centroids(emb.select("vec_id", "embedding"), cent)
    qids = [3, 57, 201]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = {
        (r["query_id"], r["vec_id"]): round(r["score"], 9)
        for r in ann.ivf_search_batch(
            queries, assigned, cent, k=3, nprobe=2
        ).collect()
    }
    seq = {}
    for qid in qids:
        target = [
            r["embedding"]
            for r in emb.filter(F.col("vec_id") == qid).collect()
        ][0]
        for r in ann.ivf_search(assigned, cent, target, k=3, nprobe=2).collect():
            seq[(qid, r["vec_id"])] = round(r["score"], 9)
    assert batch == seq


def test_lsh_search_batch_equals_per_query(spark, emb):
    """One-plan batch multiprobe LSH returns exactly what the
    per-query lsh_probe_search path returns for each query."""
    from cyborgdb_encrypted_vector_search_spark.functions import vector as V

    bucketed = ann.with_lsh_buckets(
        V.with_unit_vectors(emb.select("vec_id", "embedding"), "embedding"),
        "embedding",
        n_planes=8,
        seed=7,
        dim=64,
    ).select("vec_id", "unit", "vnorm", "bucket")
    qids = [3, 57, 201]
    queries = bucketed.filter(F.col("vec_id").isin(qids)).withColumnRenamed(
        "vec_id", "query_id"
    )
    batch = {
        (r["query_id"], r["vec_id"]): round(r["score"], 9)
        for r in ann.lsh_search_batch(
            bucketed, queries, k=3, n_planes=8
        ).collect()
    }
    seq = {}
    for qid in qids:
        row = bucketed.filter(F.col("vec_id") == qid).collect()[0]
        tgt_bucket = bucketed.filter(F.col("vec_id") == qid).select("bucket")
        res = ann.lsh_probe_search(
            bucketed, [float(x) for x in row["unit"]], tgt_bucket, k=3
        )
        for r in res.collect():
            seq[(qid, r["vec_id"])] = round(r["score"], 9)
    assert batch == seq


def test_ivf_recall_vs_exact(spark, emb):
    cent = ann.kmeans_centroids(emb, k=8, seed=42)
    assigned = ann.assign_centroids(emb.select("vec_id", "embedding"), cent)
    hits = 0
    for qid in [3, 57, 201]:
        target = [r["embedding"] for r in emb.filter(F.col("vec_id") == qid).collect()][0]
        truth = {r["vec_id"] for r in knn.topk_against_target(
            emb, target, k=3, id_col="vec_id").collect()}
        approx = {r["vec_id"] for r in ann.ivf_search(
            assigned, cent, target, k=3, nprobe=4).collect()}
        hits += len(truth & approx)
    assert hits >= 6  # >=2/3 average recall at nprobe=4 of 8


def test_collection_create_add_get(spark, tmp_path):
    coll = Collection.create(spark, "c1", str(tmp_path), dim=4)
    df = spark.createDataFrame(
        [("a", "doc a", [1.0, 0.0, 0.0, 0.0]), ("b", "doc b", [0.0, 1.0, 0.0, 0.0])],
        "k string, d string, e array<float>",
    )
    coll.add(df, id_col="k", document_col="d", embedding_col="e")
    assert coll.scan().count() == 2
    got = coll.get(["a"]).collect()
    assert len(got) == 1 and got[0]["document"] == "doc a"
    # create-or-get: second create with exist_ok returns same collection
    again = Collection.create(spark, "c1", str(tmp_path))
    assert again.scan().count() == 2
    with pytest.raises(FileExistsError):
        Collection.create(spark, "c1", str(tmp_path), exist_ok=False)


def test_collection_dim_check_rejects_bad_rows(spark, tmp_path):
    coll = Collection.create(spark, "c2", str(tmp_path), dim=4)
    df = spark.createDataFrame(
        [("a", "ok", [1.0, 0.0, 0.0, 0.0]), ("b", "bad", [1.0, 0.0])],
        "k string, d string, e array<float>",
    )
    coll.add(df, id_col="k", document_col="d", embedding_col="e")
    rows = coll.scan().collect()
    assert {r["id"] for r in rows} == {"a"}  # wrong-dim row filtered


def test_collection_uuid_ids_generated(spark, tmp_path):
    coll = Collection.create(spark, "c3", str(tmp_path))
    df = spark.createDataFrame(
        [("x", [1.0]), ("y", [2.0])], "document string, embedding array<float>"
    )
    coll.add(df)
    ids = [r["id"] for r in coll.scan().select("id").collect()]
    assert len(ids) == 2 and len(set(ids)) == 2
    assert all(len(i) == 36 for i in ids)  # uuid format


def test_collection_compact_delete_upsert(spark, tmp_path):
    import os

    coll = Collection.create(spark, "cm", str(tmp_path), dim=2)
    for i in range(4):  # 4 separate appends -> >=4 files
        df = spark.createDataFrame(
            [(str(i), f"doc {i}", [float(i), 0.0])],
            "k string, d string, e array<float>",
        )
        coll.add(df, id_col="k", document_col="d", embedding_col="e")
    files_before = len([f for f in os.listdir(coll.path) if f.endswith(".parquet")])
    n = coll.compact(target_partitions=1)
    files_after = len([f for f in os.listdir(coll.path) if f.endswith(".parquet")])
    assert n == 4 and files_after < files_before
    assert coll.scan().count() == 4

    remaining = coll.delete(["0", "2"])
    assert remaining == 2
    assert {r["id"] for r in coll.scan().collect()} == {"1", "3"}

    up = spark.createDataFrame(
        [("1", "doc 1 v2", [9.0, 9.0]), ("5", "doc 5", [5.0, 0.0])],
        "id string, d string, e array<float>",
    )
    coll.upsert(up, id_col="id", document_col="d", embedding_col="e")
    rows = {r["id"]: r["document"] for r in coll.scan().collect()}
    assert rows == {"1": "doc 1 v2", "3": "doc 3", "5": "doc 5"}


def test_upsert_delete_plan_is_distributed_anti_join(spark, tmp_path, monkeypatch):
    """The upsert/delete_matching path must never materialize the
    incoming ids on the driver: the plan the rewrite writes is a
    left-anti JOIN against the incoming DataFrame (broadcast by id),
    not an isin over a collected list."""
    coll = Collection.create(spark, "ua", str(tmp_path), dim=2)
    written, frame_cls = [], type(coll.scan())
    write = frame_cls.write
    monkeypatch.setattr(
        frame_cls, "write", property(lambda df: written.append(df) or write.fget(df))
    )
    base = spark.createDataFrame(
        [(str(i), f"doc {i}", [float(i), 0.0]) for i in range(10)],
        "id string, d string, e array<float>",
    )
    coll.add(base, id_col="id", document_col="d", embedding_col="e")
    incoming = spark.createDataFrame(
        [("3", "v2", [9.0, 9.0]), ("99", "new", [1.0, 1.0])],
        "id string, d string, e array<float>",
    ).repartition(2)  # a distributed frame, not a local relation
    for write_op in (
        lambda: coll.delete_matching(incoming.filter(F.col("id") == "3")),
        lambda: coll.upsert(incoming, id_col="id", document_col="d", embedding_col="e"),
    ):
        del written[:]
        write_op()
        plan = written[-1]._jdf.queryExecution().toString()
        assert "LeftAnti" in plan
        assert " IN (" not in plan  # no driver-collected id list
    rows = {r["id"]: r["document"] for r in coll.scan().collect()}
    assert rows["3"] == "v2" and rows["99"] == "new" and len(rows) == 11


def test_bucketed_layout_joins_without_shuffle(spark, tmp_path):
    from cyborgdb_encrypted_vector_search_spark.plans import explain as X

    coll = Collection.create(spark, "cb", str(tmp_path), dim=2)
    df = spark.createDataFrame(
        [(str(i), f"doc {i}", [float(i), 0.0]) for i in range(50)],
        "k string, d string, e array<float>",
    )
    coll.add(df, id_col="k", document_col="d", embedding_col="e")
    import uuid

    ta, tb = f"cb_a_{uuid.uuid4().hex[:8]}", f"cb_b_{uuid.uuid4().hex[:8]}"
    coll.save_bucketed(ta, n_buckets=4)
    coll.save_bucketed(tb, n_buckets=4)
    a, b = spark.table(ta), spark.table(tb)
    # force the shuffle-join path (AQE would broadcast 50 rows) so the
    # bucketing property is what's under test
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "id").select(a["id"])
        plan = X.physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # bucketing co-locates
        assert joined.count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_encrypted_collection_scan_reveals_nothing(spark, tmp_path):
    key = "0123456789abcdef"
    coll = Collection.create(spark, "sec", str(tmp_path))
    df = spark.createDataFrame(
        [(1, "secret text", [1.5, 2.5])],
        "doc_id long, document string, embedding array<float>",
    )
    coll.add_encrypted(df, key, id_col="doc_id")
    leaked = coll.extract_encrypted().collect()
    assert len(leaked) == 1
    ct = leaked[0]["embedding_ct"]
    assert ct is not None and "1.5" not in ct and "secret" not in ct
    stored_doc = coll.scan().select("document").collect()[0][0]
    assert "secret" not in stored_doc  # document ciphertext, base64
    dec = coll.decrypt(key).collect()[0]
    assert dec["document"] == "secret text"
    assert dec["embedding"] == [1.5, 2.5]


# ---------------------------------------------------------------------------
# Product quantization (operators/pq.py)
# ---------------------------------------------------------------------------


def _pq_setup(spark, sf_dir):
    from cyborgdb_encrypted_vector_search_spark.operators import pq

    emb = load(spark, "embeddings", sf_dir)
    target = emb.filter(F.col("vec_id") == 42).collect()[0]["embedding"]
    books = pq.train_codebooks(emb, m=8, nbits=4, seed=42, iters=5)
    return pq, emb, target, books


def test_pq_encode_deterministic_and_in_range(spark, sf_dir):
    pq, emb, _, books = _pq_setup(spark, sf_dir)
    codes = pq.encode(emb, books).orderBy("vec_id").limit(20)
    a = [tuple(r["codes"]) for r in codes.collect()]
    b = [tuple(r["codes"]) for r in codes.collect()]
    assert a == b  # deterministic across runs
    assert all(len(c) == 8 for c in a)
    assert all(0 <= x < 16 for c in a for x in c)


def test_pq_adc_matches_numpy(spark, sf_dir):
    """The PQ decode hook is ADC: ‖q − decode(codes)‖² equals the numpy
    ADC table sum (the m x 2^nbits table of squared subvector
    distances, gathered by code) to 1e-9 — for raw-vector codes, and
    for IVFADC residual codes, whose decode adds the row's centroid so
    that ‖q − x̂‖² = ‖(q − c) − r̂‖². The searches' ``adc_dist`` is that
    same distance."""
    import numpy as np

    pq, emb, target, books = _pq_setup(spark, sf_dir)
    q = np.asarray(target, dtype=np.float64)
    cent = ann.kmeans_centroids(emb, k=4, seed=1)
    cids = np.array([r["centroid_id"] for r in cent.orderBy("centroid_id").collect()])
    cmat = np.array([r["centroid"] for r in cent.orderBy("centroid_id").collect()])
    residuals = pq.residual_frame(emb, cent)
    rbooks = pq.train_codebooks(residuals, vec_col="residual", m=8, nbits=4, iters=5)
    cases = [
        (pq.encode(emb, books), books, None, lambda t: pq.search_adc(
            t, books, target, k=10)),
        (
            pq.encode(residuals, rbooks, vec_col="residual", keep_cols=("centroid_id",)),
            rbooks,
            (cids, cmat),
            lambda t: pq.ivfadc_search(t, cent, rbooks, target, k=10, nprobe=4),
        ),
    ]
    for codes, bks, cents, search in cases:
        hits = search(codes).collect()
        assert len(hits) == 10
        assert all(r["score"] == -r["adc_dist"] for r in hits)
        adc = {r["vec_id"]: r["adc_dist"] for r in hits}
        rows = codes.filter(F.col("vec_id").isin(list(adc))).toArrow()
        x, ok = knn.decode_codes(rows, 64, np.stack(bks), centroids=cents)
        assert ok.all()
        got = ((q - x) ** 2).sum(axis=1)
        cid = rows.column("centroid_id").to_numpy() if cents else None
        for i, (vid, cs) in enumerate(
            zip(rows.column("vec_id").to_pylist(), rows.column("codes").to_pylist())
        ):
            r = q if cents is None else q - cmat[np.searchsorted(cids, cid[i])]
            table = [((b - r[j * 8 : (j + 1) * 8]) ** 2).sum(axis=1) for j, b in enumerate(bks)]
            want = sum(table[j][c] for j, c in enumerate(cs))
            assert abs(got[i] - want) < 1e-9
            assert abs(adc[vid] - want) < 1e-9


def test_pq_rerank_returns_true_scores_and_recalls(spark, sf_dir):
    from cyborgdb_encrypted_vector_search_spark.functions import vector as V

    pq, emb, target, books = _pq_setup(spark, sf_dir)
    codes = pq.encode(emb.filter(F.col("vec_id") != 42), books)
    got = pq.search_adc(
        codes, books, target, k=3, rerank_df=emb, rerank_factor=8
    ).collect()
    t = V.literal_vector([float(x) for x in target])
    exact = {
        r["vec_id"]: r["score"]
        for r in emb.filter(F.col("vec_id") != 42)
        .withColumn("score", F.round(V.cosine("embedding", t), 7))
        .collect()
    }
    # re-ranked scores are TRUE cosines, not ADC approximations
    for r in got:
        assert abs(r["score"] - exact[r["vec_id"]]) < 1e-6
    # recall floor: at least 1 of the exact top-3 survives PQ+rerank
    top3 = sorted(exact, key=lambda v: (-exact[v], v))[:3]
    assert len({r["vec_id"] for r in got} & set(top3)) >= 1


def test_ivfpq_recall_vs_exact(spark, sf_dir):
    pq, emb, target, books = _pq_setup(spark, sf_dir)
    cent = ann.kmeans_centroids(emb, k=8, seed=42)
    corpus = emb.filter(F.col("vec_id") != 42).select("vec_id", "embedding")
    codes = pq.encode(corpus, books)
    assigned = ann.assign_centroids(corpus, cent).select(
        "vec_id", "centroid_id"
    )
    index = codes.join(assigned, "vec_id")
    got = pq.ivfpq_search(
        index, cent, books, target, k=3, nprobe=4, rerank_df=emb,
        rerank_factor=8,
    ).collect()
    assert len(got) == 3
    truth = {
        r["vec_id"]
        for r in knn.topk_against_target(
            corpus, target, k=3, id_col="vec_id"
        ).collect()
    }
    # coarse pruning (4 of 8 lists) stacked on PQ: >=1 of exact top-3
    assert len({r["vec_id"] for r in got} & truth) >= 1
    # returned scores are true cosines in descending order
    assert got[0]["score"] >= got[1]["score"] >= got[2]["score"]


def test_ivfpq_batch_equals_per_query(spark, sf_dir):
    """One-plan batch IVF-PQ returns exactly what the single-target
    path returns for each query: same probes, same ADC shortlist, same
    re-ranked scores and tie-breaks."""
    pq, emb, _, books = _pq_setup(spark, sf_dir)
    cent = ann.kmeans_centroids(emb, k=8, seed=42)
    corpus = emb.select("vec_id", "embedding")
    codes = pq.encode(corpus, books)
    assigned = ann.assign_centroids(corpus, cent).select(
        "vec_id", "centroid_id"
    )
    index = codes.join(assigned, "vec_id")
    qids = [3, 57, 201]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in pq.ivfpq_search_batch(
            index, cent, books, queries, k=3, nprobe=4, rerank_df=emb,
            rerank_factor=8,
        ).collect()
    }
    seq = {}
    for qid in qids:
        target = [
            r["embedding"]
            for r in emb.filter(F.col("vec_id") == qid).collect()
        ][0]
        for r in pq.ivfpq_search(
            index, cent, books, target, k=3, nprobe=4, rerank_df=emb,
            rerank_factor=8,
        ).collect():
            seq[(qid, r["vec_id"])] = r["score"]
    assert batch == seq


def test_ivfadc_batch_equals_per_query(spark, sf_dir):
    """One-plan batch IVFADC returns exactly what the single-target
    residual-code path returns for each query — same per-(query, list)
    residual tables, same shortlist, same re-ranked tie-breaks."""
    from cyborgdb_encrypted_vector_search_spark.operators import pq

    emb = load(spark, "embeddings", sf_dir)
    cent = ann.kmeans_centroids(emb, k=8, seed=42)
    residuals = pq.residual_frame(
        emb.select("vec_id", "embedding"), cent
    ).persist()
    books = pq.train_codebooks(
        residuals, vec_col="residual", m=8, nbits=4, seed=42, iters=10,
        sample_mod=3,
    )
    index = pq.encode(
        residuals, books, vec_col="residual", keep_cols=("centroid_id",)
    )
    qids = [3, 57, 201]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in pq.ivfadc_search_batch(
            index, cent, books, queries, k=3, nprobe=4, rerank_df=emb,
            rerank_factor=8,
        ).collect()
    }
    seq = {}
    for qid in qids:
        target = [
            r["embedding"]
            for r in emb.filter(F.col("vec_id") == qid).collect()
        ][0]
        for r in pq.ivfadc_search(
            index, cent, books, target, k=3, nprobe=4, rerank_df=emb,
            rerank_factor=8,
        ).collect():
            seq[(qid, r["vec_id"])] = r["score"]
    residuals.unpersist()
    assert batch == seq


def test_ivfadc_residual_recall_vs_exact(spark, sf_dir):
    from cyborgdb_encrypted_vector_search_spark.operators import pq

    emb = load(spark, "embeddings", sf_dir)
    target = emb.filter(F.col("vec_id") == 42).collect()[0]["embedding"]
    cent = ann.kmeans_centroids(emb, k=8, seed=42)
    corpus = emb.filter(F.col("vec_id") != 42).select("vec_id", "embedding")
    residuals = pq.residual_frame(corpus, cent).persist()
    books = pq.train_codebooks(
        residuals, vec_col="residual", m=8, nbits=4, seed=42, iters=5
    )
    index = pq.encode(
        residuals, books, vec_col="residual", keep_cols=("centroid_id",)
    )
    got = pq.ivfadc_search(
        index, cent, books, target, k=3, nprobe=4, rerank_df=emb,
        rerank_factor=8,
    ).collect()
    residuals.unpersist()
    assert len(got) == 3
    truth = {
        r["vec_id"]
        for r in knn.topk_against_target(
            corpus, target, k=3, id_col="vec_id"
        ).collect()
    }
    assert len({r["vec_id"] for r in got} & truth) >= 1
    assert got[0]["score"] >= got[1]["score"] >= got[2]["score"]


def test_residual_frame_reconstructs_vector(spark, sf_dir):
    # centroid + residual == original vector, row for row
    from cyborgdb_encrypted_vector_search_spark.operators import pq

    emb = load(spark, "embeddings", sf_dir).limit(50)
    cent = ann.kmeans_centroids(emb, k=4, seed=1)
    res = pq.residual_frame(emb, cent)
    back = (
        res.join(
            F.broadcast(cent.withColumnRenamed("centroid", "cvec")),
            "centroid_id",
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            F.max(
                F.array_max(
                    F.zip_with(
                        F.zip_with(
                            "residual", "cvec", lambda r, c: r + c
                        ),
                        F.col("embedding").cast("array<double>"),
                        lambda s, e: F.abs(s - e),
                    )
                )
            ).alias("err")
        )
        .collect()[0]["err"]
    )
    assert back < 1e-9


def test_adaptive_probe_minimal_prefix(spark):
    # lists sized 5,5,5,5 at increasing distance; k=3 factor=4 -> need 12
    # -> exactly the 3 nearest centroids probed
    rows = [(i, [float(i)] * 4, 5) for i in range(6)]
    cw = spark.createDataFrame(
        rows, "centroid_id int, centroid array<double>, n long"
    )
    probe = ann.adaptive_probe_ids(cw, [0.0] * 4, k=3, factor=4)
    assert probe == [0, 1, 2]
    # huge first list -> single probe
    rows2 = [(0, [0.0] * 4, 1000), (1, [1.0] * 4, 1000)]
    cw2 = spark.createDataFrame(
        rows2, "centroid_id int, centroid array<double>, n long"
    )
    assert ann.adaptive_probe_ids(cw2, [0.0] * 4, k=3, factor=4) == [0]


def test_import_file_roundtrip(spark, tmp_path):
    # collection -> JSON and CSV exports -> import_file recreates the
    # same rows, nested metadata and float vectors intact
    rows = [
        ("a", "alpha doc", [1.0, 2.0, 3.5, -0.25], {"k": "v1"}),
        ("b", "beta doc", [0.0, -1.5, 2.25, 9.0], {"k": "v2"}),
    ]
    df = spark.createDataFrame(
        rows,
        "id string, document string, embedding array<float>, "
        "metadata map<string,string>",
    )
    src = Collection.create(spark, "src", str(tmp_path), dim=4)
    src.add(df, id_col="id", metadata_col="metadata")

    for fmt in ("json", "csv"):
        out = str(tmp_path / f"export_{fmt}")
        getattr(src, f"export_{fmt}")(out)
        back = Collection.import_file(
            spark, f"back_{fmt}", str(tmp_path), out, fmt=fmt, dim=4
        )
        got = {
            r["id"]: r
            for r in back.scan().orderBy("id").collect()
        }
        assert set(got) == {"a", "b"}
        assert got["a"]["document"] == "alpha doc"
        assert got["b"]["embedding"] == [0.0, -1.5, 2.25, 9.0]
        assert got["a"]["metadata"] == {"k": "v1"}


def test_pq_score_contract_without_rerank(spark, sf_dir):
    """Every PQ search path emits a stable `score` column (higher =
    better) whether or not re-ranking is on; with rerank_df=None,
    score == -adc_dist and rows arrive best-first — so callers can
    always select(id, 'score') regardless of configuration."""
    pq, emb, target, books = _pq_setup(spark, sf_dir)
    cent = ann.kmeans_centroids(emb, k=8, seed=42)
    corpus = emb.select("vec_id", "embedding")
    codes = pq.encode(corpus, books)
    assigned = ann.assign_centroids(corpus, cent).select(
        "vec_id", "centroid_id"
    )
    index = codes.join(assigned, "vec_id")
    residuals = pq.residual_frame(corpus, cent).persist()
    rbooks = pq.train_codebooks(
        residuals, vec_col="residual", m=8, nbits=4, seed=42, iters=3,
        sample_mod=3,
    )
    rindex = pq.encode(
        residuals, rbooks, vec_col="residual", keep_cols=("centroid_id",)
    )

    singles = [
        pq.search_adc(codes, books, target, k=3),
        pq.ivfpq_search(index, cent, books, target, k=3, nprobe=4),
        pq.ivfadc_search(rindex, cent, rbooks, target, k=3, nprobe=4),
    ]
    for df in singles:
        rows = df.collect()
        assert len(rows) == 3
        assert {"adc_dist", "score"} <= set(rows[0].asDict())
        for r in rows:
            assert abs(r["score"] + r["adc_dist"]) < 1e-12
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)

    queries = emb.filter(F.col("vec_id").isin([3, 57])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    for df in (
        pq.ivfpq_search_batch(index, cent, books, queries, k=3, nprobe=4),
        pq.ivfadc_search_batch(rindex, cent, rbooks, queries, k=3, nprobe=4),
    ):
        rows = df.collect()
        assert {"query_id", "vec_id", "adc_dist", "score"} <= set(
            rows[0].asDict()
        )
        for r in rows:
            assert abs(r["score"] + r["adc_dist"]) < 1e-12
    residuals.unpersist()


def test_collection_query_matches_reference_serving_call(spark, tmp_path):
    """Collection.query is the reference's serving call
    (collection.query(query_embeddings=..., n_results=3),
    src/cod.py:124-129) as one Spark plan: querying with a stored
    vector returns that document at rank 1 / distance ~0, texts embed
    through the D1 seam, and results come back (query_idx, rank, id,
    document, distance) with cosine distances ascending per query."""
    from cyborgdb_encrypted_vector_search_spark.functions import embed as E
    from cyborgdb_encrypted_vector_search_spark.sources.collections import (
        Collection,
    )

    texts = [
        "I love machine learning",
        "this is an example test",
        "you enjoy this model",
        "the data table is like a query",
    ]
    dim = 16
    coll = Collection.create(spark, "query_surface", str(tmp_path), dim=dim)
    docs = spark.createDataFrame(
        [(str(i), t, E.embed_text(t, dim)) for i, t in enumerate(texts)],
        "id string, document string, embedding array<float>",
    )
    coll.add(docs, id_col="id")

    # vector query: the reconstruction flow — stored embedding of id 2
    stored = coll.get(["2"], include=["embedding"]).collect()[0]["embedding"]
    got = (
        coll.query(query_embeddings=[list(stored)], n_results=3)
        .orderBy("query_idx", "rank")
        .collect()
    )
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert got[0]["id"] == "2"
    assert got[0]["document"] == texts[2]
    assert abs(got[0]["distance"]) < 1e-6
    assert got[0]["distance"] <= got[1]["distance"] <= got[2]["distance"]

    # text queries embed through the same seam the ingest used
    got2 = (
        coll.query(query_texts=[texts[1], texts[3]], n_results=1)
        .orderBy("query_idx")
        .collect()
    )
    assert [r["id"] for r in got2] == ["1", "3"]
    assert all(abs(r["distance"]) < 1e-6 for r in got2)

    # contract errors: both/neither inputs, dim mismatch
    import pytest as _pytest

    with _pytest.raises(ValueError):
        coll.query()
    with _pytest.raises(ValueError):
        coll.query(query_embeddings=[[1.0] * dim], query_texts=["x"])
    with _pytest.raises(ValueError):
        coll.query(query_embeddings=[[1.0] * (dim + 1)])


def test_collection_query_encrypted_matches_plaintext(spark, tmp_path):
    """Collection.query_encrypted closes the reference's thesis as one
    dataflow (encrypted store + retrieval, src/cyborgdb_store.py +
    src/cod.py:124-129): an authorized query against the AES-GCM
    collection returns exactly the plaintext collection's ranking —
    decrypt → score happens inside one plan — while the unauthorized
    scan still yields ciphertext only."""
    from cyborgdb_encrypted_vector_search_spark.functions import embed as E

    key = "fedcba9876543210"
    texts = [
        "I love machine learning",
        "this is an example test",
        "you enjoy this model",
        "the data table is like a query",
    ]
    dim = 16
    rows = [(str(i), t, E.embed_text(t, dim)) for i, t in enumerate(texts)]
    plain = Collection.create(spark, "qe_plain", str(tmp_path), dim=dim)
    plain.add(
        spark.createDataFrame(
            rows, "id string, document string, embedding array<float>"
        ),
        id_col="id",
    )
    enc = Collection.create(spark, "qe_enc", str(tmp_path))
    enc.add_encrypted(
        spark.createDataFrame(
            rows, "id string, document string, embedding array<double>"
        ),
        key,
        id_col="id",
    )

    q = [list(map(float, E.embed_text(texts[2], dim)))]
    want = [
        (r["rank"], r["id"], round(r["distance"], 5))
        for r in plain.query(query_embeddings=q, n_results=3)
        .orderBy("rank")
        .collect()
    ]
    got_rows = (
        enc.query_encrypted(key, query_embeddings=q, n_results=3)
        .orderBy("rank")
        .collect()
    )
    got = [(r["rank"], r["id"], round(r["distance"], 5)) for r in got_rows]
    assert got == want
    assert got[0][1] == "2" and got[0][2] == 0.0
    # decrypted documents ride along in the same plan
    assert got_rows[0]["document"] == texts[2]

    # the unauthorized path still leaks nothing
    leaked = enc.extract_encrypted().collect()
    assert all(
        r["embedding_ct"] is not None and "love" not in r["embedding_ct"]
        for r in leaked
    )


@pytest.mark.parametrize("buckets", [None, 4])
def test_add_encrypted_enforces_dim(spark, tmp_path, buckets):
    """add_encrypted drops a wrong-dim row exactly as add does: the
    encrypted and plain collections hold the same ids, decrypt omits
    the row, and query_encrypted equals query."""
    key = "0123456789abcdef"
    rows = spark.createDataFrame(
        [("a", "doc a", [1.0, 0.0, 0.0, 0.0]), ("b", "doc b", [0.0, 1.0, 0.0])],
        "id string, document string, embedding array<double>",
    )
    plain = Collection.create(spark, "dp", str(tmp_path), dim=4, buckets=buckets)
    enc = Collection.create(spark, "de", str(tmp_path), dim=4, buckets=buckets)
    plain.add(rows, id_col="id")
    enc.add_encrypted(rows, key, id_col="id")
    assert [r["id"] for r in enc.decrypt(key).collect()] == ["a"]
    q = [[0.0, 1.0, 0.0, 0.0]]

    def hits(df):
        return [(r["rank"], r["id"], r["distance"]) for r in df.orderBy("rank").collect()]

    want = hits(plain.query(query_embeddings=q, n_results=2))
    assert [h[1] for h in want] == ["a"]
    assert hits(enc.query_encrypted(key, query_embeddings=q, n_results=2)) == want


def test_append_to_ivf_layout_equals_rebuild(spark, sf_dir, tmp_path, kernel_frames):
    """Incremental IVF ingest (append_to_ivf_layout) must be
    indistinguishable from a from-scratch rebuild: same (vec_id,
    centroid_id) assignment set, and probe queries still read the
    partitioned layout with the centroid IN-filter satisfied by
    partition pruning over the appended files."""
    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    n = emb.count()
    incr = str(tmp_path / "incr")
    full = str(tmp_path / "full")
    ann.build_ivf_layout(emb.filter(F.col("vec_id") <= n // 2), cent, incr)
    ann.append_to_ivf_layout(
        emb.filter(F.col("vec_id") > n // 2), cent, incr
    )
    ann.build_ivf_layout(emb, cent, full)

    def pairs(path):
        return sorted(
            (r["vec_id"], r["centroid_id"])
            for r in spark.read.parquet(path)
            .select("vec_id", "centroid_id")
            .collect()
        )

    assert pairs(incr) == pairs(full)
    assert len(pairs(incr)) == n

    # probe search over the appended layout still partition-prunes
    target = emb.filter(F.col("vec_id") == 42).collect()[0]["embedding"]
    res = ann.ivf_search(spark.read.parquet(incr), cent, target, k=3, nprobe=2)
    plan = kernel_frames[-1]._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan), plan
    got = res.collect()
    want = ann.ivf_search(spark.read.parquet(full), cent, target, k=3, nprobe=2).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in got] == [
        (r["vec_id"], round(r["score"], 9)) for r in want
    ]


def test_rotate_key_lossless_and_retires_old_key(spark, tmp_path):
    """Key rotation re-encrypts losslessly: the rotated collection
    decrypts (new key) to the exact original rows, the old key is
    cryptographically dead on the rotated ciphertext (GCM auth
    failure -> try_aes_decrypt NULL), and rotated ciphertexts differ
    from the originals (fresh IVs)."""
    old_key, new_key = "0123456789abcdef", "aaaabbbbccccdddd"
    src = Collection.create(spark, "rot_src", str(tmp_path / "src"))
    df = spark.createDataFrame(
        [(1, "alpha secret", [1.0, 2.0]), (2, "beta secret", [3.0, 4.0])],
        "doc_id long, document string, embedding array<double>",
    )
    src.add_encrypted(df, old_key, id_col="doc_id")
    rot = src.rotate_key(old_key, new_key, str(tmp_path / "dst"))

    dec = {r["id"]: r for r in rot.decrypt(new_key).collect()}
    assert dec["1"]["document"] == "alpha secret"
    assert dec["1"]["embedding"] == [1.0, 2.0]
    assert dec["2"]["embedding"] == [3.0, 4.0]

    # old key no longer opens anything
    dead = rot.scan().select(
        F.try_aes_decrypt(
            F.unbase64(F.col("metadata")["embedding_ct"]), F.lit(old_key)
        ).alias("p")
    )
    assert all(r["p"] is None for r in dead.collect())

    # fresh IVs: ciphertexts share nothing between generations
    old_ct = {r["id"]: r["embedding_ct"] for r in src.extract_encrypted().collect()}
    new_ct = {r["id"]: r["embedding_ct"] for r in rot.extract_encrypted().collect()}
    assert all(old_ct[k] != new_ct[k] for k in old_ct)


def test_collection_query_where_filters_before_scoring(spark, tmp_path):
    """Chroma-parity metadata filter: where={...} restricts the corpus
    BEFORE scoring (top-k-within-filter, not filter-of-top-k), and an
    unmatched filter returns empty rather than erroring."""
    from cyborgdb_encrypted_vector_search_spark.functions import embed as E

    dim = 16
    texts = ["alpha doc", "beta doc", "gamma doc", "delta doc"]
    coll = Collection.create(spark, "wq", str(tmp_path), dim=dim)
    rows = [
        (str(i), t, E.embed_text(t, dim), {"grp": str(i % 2)})
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "id string, document string, embedding array<float>, "
        "metadata map<string,string>",
    )
    coll.add(df, id_col="id", metadata_col="metadata")

    q = [list(map(float, E.embed_text(texts[0], dim)))]
    # group 0 = ids {0, 2}: doc 0 must win; id 1 (globally rank ~2 by
    # shared-token locality) must be excluded by the filter
    got = (
        coll.query(query_embeddings=q, n_results=4, where={"grp": "0"})
        .orderBy("rank")
        .collect()
    )
    assert [r["id"] for r in got] == ["0", "2"]
    assert abs(got[0]["distance"]) < 1e-6
    # unmatched filter -> empty result, not an error
    assert (
        coll.query(query_embeddings=q, n_results=2, where={"grp": "9"}).count()
        == 0
    )


def test_compact_ivf_layout_preserves_content_and_prunes(
    spark, sf_dir, tmp_path, kernel_frames
):
    """Compaction after append-ingest: same rows, at most max_tasks
    files per centroid directory, no shuffle in the compaction job,
    and probe search over the compacted layout still partition-prunes
    to identical results."""
    import glob
    import os

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    n = emb.count()
    grown = str(tmp_path / "grown")
    ann.build_ivf_layout(emb.filter(F.col("vec_id") <= n // 4), cent, grown)
    for lo, hi in [(n // 4, n // 2), (n // 2, 3 * n // 4), (3 * n // 4, n)]:
        ann.append_to_ivf_layout(
            emb.filter((F.col("vec_id") > lo) & (F.col("vec_id") <= hi)),
            cent,
            grown,
        )
    compacted = str(tmp_path / "compacted")
    compact_partitioned_layout(spark, grown, compacted, "centroid_id", 2)

    def files_per_dir(path):
        return {
            os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(os.path.join(path, "centroid_id=*"))
        }

    before, after = files_per_dir(grown), files_per_dir(compacted)
    assert max(before.values()) > 2  # appends really fragmented it
    assert max(after.values()) <= 2
    rows = lambda p: sorted(
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(p).select("vec_id", "centroid_id").collect()
    )
    assert rows(grown) == rows(compacted)
    # compaction plan is narrow: no Exchange anywhere
    plan = (
        spark.read.parquet(grown)
        .coalesce(2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    target = emb.filter(F.col("vec_id") == 42).collect()[0]["embedding"]
    a = ann.ivf_search(spark.read.parquet(compacted), cent, target, k=3, nprobe=2)
    plan = kernel_frames[-1]._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan), plan
    b = ann.ivf_search(spark.read.parquet(grown), cent, target, k=3, nprobe=2)
    assert [(r["vec_id"], round(r["score"], 9)) for r in a.collect()] == [
        (r["vec_id"], round(r["score"], 9)) for r in b.collect()
    ]


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (operators/quant.py)
# ---------------------------------------------------------------------------

def test_sq8_encode_reconstruction_error_bounded(spark, sf_dir):
    """Decode(encode(x)) is within half a quantization step per
    dimension of the unit vector — the SQ8 contract, read through the
    decode hook the searches score."""
    import numpy as np

    from cyborgdb_encrypted_vector_search_spark.functions import vector as V
    from cyborgdb_encrypted_vector_search_spark.operators import quant as Q

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mins, maxs = Q.sq8_train(emb)
    scales = Q._scales(mins, maxs)
    rows = Q.sq8_encode(emb, mins, maxs).select(
        "codes", V.l2_normalize("embedding").alias("unit")
    ).toArrow()
    approx, ok = Q._sq8_decoder(mins, maxs, "codes")(rows, 64)
    assert ok.all()
    unit = np.array(rows.column("unit").to_pylist())
    # worst case: half a step (+ rounding slack) on the widest dimension
    assert np.abs(unit - approx).max() <= max(scales) / 2 + 1e-9


def test_sq8_search_recall_and_plan_shape(spark, sf_dir, kernel_frames):
    """SQ8 top-k matches exact kNN at small scale; over a stored code
    table the approximate pass reads only (vec_id, codes) — column
    pruning is the 4x IO win — and the re-rank pass pushes the
    shortlist ids into the full-precision scan."""
    from cyborgdb_encrypted_vector_search_spark.operators import knn
    from cyborgdb_encrypted_vector_search_spark.operators import quant as Q
    from cyborgdb_encrypted_vector_search_spark.plans import explain as X

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mins, maxs = Q.sq8_train(emb)
    enc = Q.sq8_encode(emb, mins, maxs)
    t = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    res = Q.sq8_search(enc, mins, maxs, t, k=10, oversample=8)
    got = [r["vec_id"] for r in res.collect()]
    q = spark.createDataFrame([(7, t)], "qid long, qvec array<float>")
    want = [
        r["vec_id"]
        for r in knn.knn_join(
            q, emb, k=10, query_id_col="qid", query_vec_col="qvec"
        ).collect()
    ]
    assert len(set(got) & set(want)) >= 9  # recall@10 >= 0.9 at sf0.001

    # persisted-code-table read (the serving shape), two pinned passes
    enc.write.mode("overwrite").parquet("/tmp/sq8_codes_test")
    stored = spark.read.parquet("/tmp/sq8_codes_test")
    del kernel_frames[:]
    res2 = Q.sq8_search(stored, mins, maxs, t, k=10, oversample=8)
    approx, rerank = kernel_frames
    # (1) the approximate pass reads ONLY (id, codes)
    assert X.scan_columns(approx) == ["vec_id", "codes"]
    # (2) the re-rank pass pushes the shortlist ids INTO the scan
    # (PushedFilters In) instead of streaming the embedding column
    # past a join — O(k) IO, not O(N)
    rerank_scans = [
        ln
        for ln in X.physical_plan(rerank).splitlines()
        if "FileScan parquet" in ln and "embedding" in ln.split("ReadSchema")[-1]
    ]
    assert rerank_scans and all("In(vec_id" in ln for ln in rerank_scans)
    assert [r["vec_id"] for r in res2.collect()] == got


def test_sq8_batch_matches_single(spark, sf_dir):
    from cyborgdb_encrypted_vector_search_spark.operators import quant as Q

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mins, maxs = Q.sq8_train(emb)
    enc = Q.sq8_encode(emb, mins, maxs)
    qids = [3, 11, 25]
    rows = emb.filter(F.col("vec_id").isin(qids)).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows],
        "qid long, qvec array<float>",
    )
    batch = Q.sq8_batch_search(enc, mins, maxs, queries, k=5, oversample=8)
    got = {
        qid: [r["vec_id"] for r in batch.filter(F.col("qid") == qid).collect()]
        for qid in qids
    }
    for r in rows:
        single = Q.sq8_search(
            enc, mins, maxs, r["embedding"], k=5, oversample=8
        )
        assert got[r["vec_id"]] == [x["vec_id"] for x in single.collect()]


# ---------------------------------------------------------------------------
# Bucket-partitioned collection CRUD (partition-pruned delete/upsert)
# ---------------------------------------------------------------------------

def _bucket_files(path):
    import glob as _g
    import os as _o

    return {
        _o.path.basename(d): sorted(
            _o.path.basename(f) for f in _g.glob(_o.path.join(d, "*.parquet"))
        )
        for d in _g.glob(_o.path.join(path, "id_bucket=*"))
    }


def test_bucketed_crud_touches_only_affected_buckets(spark, tmp_path):
    c = Collection.create(spark, "crud", str(tmp_path), dim=2, buckets=8)
    df = spark.createDataFrame(
        [(str(i), f"doc{i}", [float(i), 1.0]) for i in range(200)],
        "id string, document string, embedding array<float>",
    )
    c.add(df, id_col="id")
    before = _bucket_files(c.path)

    touched = c.delete(["5", "17", "42"])
    after = before_del = _bucket_files(c.path)
    unchanged = [b for b in before if after.get(b) == before[b]]
    # deletes rewrote at most 3 buckets; every other bucket kept its
    # exact files (no full-table rewrite)
    assert touched <= 3
    assert len(unchanged) >= len(before) - 3
    assert c.scan().count() == 197

    up = spark.createDataFrame(
        [("7", "doc7_v2", [70.0, 1.0]), ("900", "new", [9.0, 9.0])],
        "id string, document string, embedding array<float>",
    )
    c.upsert(up, id_col="id")
    after_up = _bucket_files(c.path)
    unchanged = [b for b in before_del if after_up.get(b) == before_del[b]]
    assert len(unchanged) >= len(before_del) - 2
    got = {r["id"]: r["document"] for r in c.get(["7", "900", "8"]).collect()}
    assert got == {"7": "doc7_v2", "900": "new", "8": "doc8"}
    assert c.scan().count() == 198

    # point-get prunes: the scan's PartitionFilters constrain id_bucket
    plan = c.get(["7"])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "id_bucket" in pf

    # layout survives reopening without metadata (sidecar) and compact
    reopened = Collection(spark, "crud", c.path)
    assert reopened.bucket_count == 8
    n = reopened.compact()
    assert n == 198
    assert reopened.scan().count() == 198
    per = _bucket_files(c.path)
    assert per and max(len(v) for v in per.values()) <= 1
    assert reopened.bucket_count == 8  # meta survived the swap


def test_bucketed_scan_schema_matches_flat(spark, tmp_path):
    """Consumers see the same 4-column schema regardless of layout."""
    flat = Collection.create(spark, "flat", str(tmp_path / "f"), dim=2)
    bkt = Collection.create(spark, "bkt", str(tmp_path / "b"), dim=2, buckets=4)
    df = spark.createDataFrame(
        [("1", "d", [1.0, 2.0])],
        "id string, document string, embedding array<float>",
    )
    flat.add(df, id_col="id")
    bkt.add(df, id_col="id")
    assert flat.scan().columns == bkt.scan().columns
    # delete leaving a bucket empty removes its dir outright
    bkt.delete(["1"])
    assert bkt.scan().count() == 0


def test_chroma_api_surface(spark, tmp_path):
    """count/peek/get_where/list_collections/delete_collection parity
    with the Chroma client API the reference builds on."""
    from cyborgdb_encrypted_vector_search_spark.sources.collections import (
        delete_collection,
    )

    base = str(tmp_path)
    c = Collection.create(spark, "api", base, dim=2)
    df = spark.createDataFrame(
        [
            ("3", "c", [1.0, 0.0], {"lang": "en"}),
            ("1", "a", [0.0, 1.0], {"lang": "en"}),
            ("2", "b", [1.0, 1.0], {"lang": "de"}),
        ],
        "id string, document string, embedding array<float>, "
        "metadata map<string,string>",
    )
    c.add(df, id_col="id", metadata_col="metadata")

    assert c.count() == 3
    assert [r["id"] for r in c.peek(2).collect()] == ["1", "2"]
    plan = c.peek(2)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    en = c.get_where({"lang": "en"})
    assert sorted(r["id"] for r in en.collect()) == ["1", "3"]
    assert c.get_where({"lang": "en"}, limit=1).collect()[0]["id"] == "1"
    assert c.get_where({"lang": "xx"}).count() == 0

    assert list_collections(base) == ["api"]
    Collection.create(spark, "второй", base, dim=2)  # second one
    assert len(list_collections(base)) == 2
    assert delete_collection(base, "api") is True
    assert delete_collection(base, "api") is False
    assert list_collections(base) == ["второй"]


def test_ivfsq_batch_matches_single_and_prunes(
    spark, sf_dir, tmp_path, kernel_frames
):
    from cyborgdb_encrypted_vector_search_spark.operators import quant as Q
    from cyborgdb_encrypted_vector_search_spark.operators import ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cent = ann.kmeans_centroids(emb, k=4, seed=7)
    mins, maxs = Q.sq8_train(emb)
    path = str(tmp_path / "ivfsq")
    Q.build_ivfsq_layout(emb, cent, mins, maxs, path)
    layout = spark.read.parquet(path)

    qids = [2, 9, 31]
    rows = emb.filter(F.col("vec_id").isin(qids)).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows],
        "qid long, qvec array<float>",
    )
    batch = Q.ivfsq_search_batch(
        layout, cent, mins, maxs, queries, k=5, nprobe=2
    )
    got = {
        qid: [r["vec_id"] for r in batch.filter(F.col("qid") == qid).collect()]
        for qid in qids
    }
    for r in rows:
        single = Q.ivfsq_search(
            layout, cent, mins, maxs, r["embedding"], k=5, nprobe=2
        )
        assert got[r["vec_id"]] == [x["vec_id"] for x in single.collect()]

    # the single-query path partition-prunes the materialized layout in
    # both its passes
    del kernel_frames[:]
    Q.ivfsq_search(layout, cent, mins, maxs, rows[0]["embedding"], k=5, nprobe=2)
    assert len(kernel_frames) == 2
    for df in kernel_frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan), plan


def test_ivfsq_incremental_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Incrementally-grown compressed layout == from-scratch rebuild:
    identical (vec_id, centroid_id, codes) rows, identical probe
    results — append-ingest loses nothing."""
    from cyborgdb_encrypted_vector_search_spark.operators import ann
    from cyborgdb_encrypted_vector_search_spark.operators import quant as Q

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cent = ann.kmeans_centroids(emb, k=4, seed=7)
    mins, maxs = Q.sq8_train(emb)
    n = emb.count()

    full = str(tmp_path / "full")
    Q.build_ivfsq_layout(emb, cent, mins, maxs, full)
    incr = str(tmp_path / "incr")
    Q.build_ivfsq_layout(
        emb.filter(F.col("vec_id") <= n // 2), cent, mins, maxs, incr
    )
    Q.append_to_ivfsq_layout(
        emb.filter(F.col("vec_id") > n // 2), cent, mins, maxs, incr
    )

    def rows(path):
        return sorted(
            (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
            for r in spark.read.parquet(path)
            .select("vec_id", "centroid_id", "codes")
            .collect()
        )

    assert rows(incr) == rows(full)
    t = emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"]
    a = Q.ivfsq_search(spark.read.parquet(incr), cent, mins, maxs, t, k=5, nprobe=2)
    b = Q.ivfsq_search(spark.read.parquet(full), cent, mins, maxs, t, k=5, nprobe=2)
    assert [(r["vec_id"], round(r["score"], 9)) for r in a.collect()] == [
        (r["vec_id"], round(r["score"], 9)) for r in b.collect()
    ]


def test_bucketed_crud_model_based_random_ops(spark, tmp_path):
    """Model-based check: a seeded random sequence of add/upsert/delete
    batches applied to both a bucketed Collection and a plain dict must
    end in the same state — covers deleting nonexistent ids, repeated
    upserts of the same id, emptying buckets, and interleavings no
    single handwritten case hits."""
    import random

    rng = random.Random(20260814)
    c = Collection.create(spark, "model", str(tmp_path), dim=2, buckets=4)
    model: dict[str, str] = {}

    def frame(rows):
        return spark.createDataFrame(
            [(i, d, [1.0, float(len(d))]) for i, d in rows],
            "id string, document string, embedding array<float>",
        )

    universe = [str(i) for i in range(40)]
    for step in range(12):
        op = rng.choice(["add", "upsert", "delete", "delete"])
        ids = rng.sample(universe, rng.randint(1, 6))
        if op == "add":
            fresh = [i for i in ids if i not in model]
            if not fresh:
                continue
            rows = [(i, f"doc{i}s{step}") for i in fresh]
            c.add(frame(rows), id_col="id")
            model.update(rows)
        elif op == "upsert":
            rows = [(i, f"doc{i}s{step}") for i in ids]
            c.upsert(frame(rows), id_col="id")
            model.update(rows)
        else:
            c.delete(ids)
            for i in ids:
                model.pop(i, None)

    got = {r["id"]: r["document"] for r in c.scan().collect()}
    assert got == model
    # point-get agrees for a sample of present and absent ids
    sample = rng.sample(universe, 8)
    got_pg = {r["id"]: r["document"] for r in c.get(sample).collect()}
    assert got_pg == {i: model[i] for i in sample if i in model}


# ---------------------------------------------------------------------------
# One rewrite-and-commit path (Collection._rewrite / Collection._commit)
# ---------------------------------------------------------------------------

def _vec_frame(spark, ids, tag="v"):
    return spark.createDataFrame(
        [(i, f"{tag}{i}", [float(len(i)), float(k)], {"t": tag}) for k, i in enumerate(ids)],
        "id string, document string, embedding array<float>, "
        "metadata map<string,string>",
    )


def _ids_on_disk(*dirs):
    """Every id in a parquet file under ``dirs`` (Spark's ``_``/``.``
    entries skipped), read without Spark."""
    import pyarrow.dataset as pa_ds

    found = set()
    for d in filter(os.path.isdir, dirs):
        data = pa_ds.dataset(d, format="parquet")
        if data.files:  # an aside dir the fault left empty has none
            found |= set(data.to_table(columns=["id"])["id"].to_pylist())
    return found


def test_add_encrypted_lands_in_buckets(spark, tmp_path):
    """A bucketed collection stores encrypted rows under its
    ``id_bucket=`` dirs like any append, so every read path sees them."""
    key = "0123456789abcdef"
    df = _vec_frame(spark, [str(i) for i in range(10)])
    enc = Collection.create(spark, "encb", str(tmp_path), dim=2, buckets=4)
    enc.add_encrypted(df, key, id_col="id", metadata_col="metadata")
    assert not [f for f in os.listdir(enc.path) if f.endswith(".parquet")]
    assert _ids_on_disk(enc.path) == {str(i) for i in range(10)}

    dec = {r["id"]: (r["document"], list(r["embedding"])) for r in enc.decrypt(key).collect()}
    want = {r["id"]: (r["document"], list(r["embedding"])) for r in df.collect()}
    assert dec == want
    assert [r["id"] for r in enc.get(["7", "nope"]).collect()] == ["7"]

    plain = Collection.create(spark, "plainb", str(tmp_path), dim=2)
    plain.add(df, id_col="id", metadata_col="metadata")
    q = [[1.0, 3.0], [1.0, -1.0]]
    hits = lambda c: [  # noqa: E731
        tuple(r) for r in c.select("query_idx", "rank", "id", "distance").collect()
    ]
    assert hits(enc.query_encrypted(key, query_embeddings=q, n_results=4)) == hits(
        plain.query(query_embeddings=q, n_results=4)
    )


@pytest.mark.parametrize("buckets", [None, 4])
def test_rewrites_keep_sidecars(spark, tmp_path, buckets):
    """``_``-prefixed sidecars (the bucket-count meta, streaming replay
    markers) survive compact, delete and upsert on both layouts."""
    from cyborgdb_encrypted_vector_search_spark.streaming.ingest import (
        run_idempotent_batch,
    )

    c = Collection.create(spark, "side", str(tmp_path), dim=2, buckets=buckets)
    ids = [str(i) for i in range(20)]
    run_idempotent_batch(
        c.path, "tag", 0, lambda: c.add(_vec_frame(spark, ids), id_col="id")
    )
    marker = os.path.join(c.path, "_stream_commits", "tag-0")
    sidecars = {e for e in os.listdir(c.path) if e.startswith("_") and e != "_SUCCESS"}
    assert os.path.isfile(marker)
    assert (Collection._META_FILE in sidecars) == bool(buckets)
    for write in (
        lambda: c.compact(),
        lambda: c.delete(["3", "4"]),
        lambda: c.upsert(_vec_frame(spark, ["5", "new"], "u"), id_col="id"),
    ):
        write()
        assert sidecars <= set(os.listdir(c.path))
        assert os.path.isfile(marker)
        assert not run_idempotent_batch(c.path, "tag", 0, lambda: None)
    assert c.bucket_count == buckets
    got = {r["id"]: r["document"] for r in c.scan().collect()}
    assert got == {**{i: f"v{i}" for i in ids if i not in ("3", "4")}, "5": "u5", "new": "unew"}


@pytest.mark.parametrize(
    "buckets, write",
    [
        (4, lambda spark, c: c.upsert(_vec_frame(spark, ["1", "2", "x"], "u"), id_col="id")),
        (None, lambda spark, c: c.compact(target_partitions=1)),
    ],
    ids=["bucketed_upsert", "flat_compact"],
)
def test_commit_fault_keeps_committed_rows(spark, tmp_path, monkeypatch, buckets, write):
    """A failure at any rename of a commit loses no committed row:
    each one is still on disk, in its live part or in the aside dir
    that holds the parts moved out so far."""
    from pyspark.errors import AnalysisException

    real_commit, real_rename = Collection._commit, os.rename
    state = {"armed": False, "calls": 0, "fail_at": None}

    def commit(self, staged, parts):
        state["armed"] = True
        try:
            return real_commit(self, staged, parts)
        finally:
            state["armed"] = False

    def rename(src, dst):
        if state["armed"]:
            if state["calls"] == state["fail_at"]:
                raise OSError(f"injected fault at rename {state['calls']}")
            state["calls"] += 1
        return real_rename(src, dst)

    monkeypatch.setattr(Collection, "_commit", commit)
    monkeypatch.setattr(os, "rename", rename)
    ids = [str(i) for i in range(40)]
    faults = 0
    while True:
        state.update(calls=0, fail_at=faults)
        c = Collection.create(spark, f"f{faults}", str(tmp_path), dim=2, buckets=buckets)
        for part in (ids[:20], ids[20:]):  # two appends: a compact has work
            c.add(_vec_frame(spark, part), id_col="id")
        assert _ids_on_disk(c.path) == set(ids)
        try:
            write(spark, c)
        except OSError:
            faults += 1
            aside = f"{c.path}.aside{os.getpid()}"
            assert _ids_on_disk(c.path, aside) >= set(ids)
            # leftovers are not collections (a flat dir moved aside is
            # missing from the list too: nothing recovers it yet)
            assert not [
                n for n in list_collections(str(tmp_path))
                if ".stage" in n or ".aside" in n
            ]
            if os.path.isdir(aside):
                # the next write stops (at its commit, or at the read of
                # a flat table that is still aside) and clears nothing
                with pytest.raises((FileExistsError, AnalysisException)):
                    c.delete(["0"])
                assert _ids_on_disk(c.path, aside) >= set(ids)
            continue
        break
    # every rename of the commit was failed once, then the write ran through
    assert faults == state["calls"] >= 2
    assert {r["id"] for r in c.scan().collect()} == set(ids) | (
        {"x"} if buckets else set()
    )


def test_write_jobs(spark, tmp_path):
    """Spark jobs per write: the bucket set of a local frame is hashed
    with no job, the row count comes from the staged footers, and every
    rewrite is one staged write (plus its shuffle map stage)."""
    import pyarrow as pa

    sc = spark.sparkContext

    def jobs(name, fn):
        sc.setJobGroup(name, name)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    def arrow_frame(ids):
        return spark.createDataFrame(pa.table({
            "id": pa.array(ids, pa.string()),
            "document": pa.array([f"u{i}" for i in ids], pa.string()),
            "embedding": pa.array([[1.0, 2.0]] * len(ids), pa.list_(pa.float32())),
        }))

    base = _vec_frame(spark, [str(i) for i in range(200)])
    bkt = Collection.create(spark, "jb", str(tmp_path), dim=2, buckets=8)
    flat = Collection.create(spark, "jf", str(tmp_path), dim=2)
    for c in (bkt, flat):
        c.add(base, id_col="id", metadata_col="metadata")
    up = arrow_frame(["1", "2", "new"])
    assert up.isLocal()
    assert jobs("jb_upsert", lambda: bkt.upsert(up, id_col="id")) <= 4
    assert jobs("jb_delete", lambda: bkt.delete(["5", "6"])) <= 2
    assert jobs("jb_compact", lambda: bkt.compact()) <= 2
    assert jobs("jf_upsert", lambda: flat.upsert(up, id_col="id")) <= 4
    assert (bkt.count(), flat.count()) == (199, 201)

"""Plan-shape regression tests: the scale-critical physical properties
(SURVEY.md §4) must survive refactors. These assert on .explain output,
so a change that silently de-optimizes a plan fails here."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.plans import explain as X
from cyborgdb_encrypted_vector_search_spark.plans.catalog import entries
from cyborgdb_encrypted_vector_search_spark.sources.registry import load


@pytest.fixture(scope="module")
def cat():
    return entries()


def test_flagship_is_topk_with_broadcast_target(spark, sf_dir, cat):
    df = cat["knn_topk_cosine"].fn(spark, sf_dir)
    X.assert_in_plan(df, "TakeOrderedAndProject", "BroadcastNestedLoopJoin")
    # no wide exchange: corpus side never shuffles
    X.assert_not_in_plan(df, "SortMergeJoin")


def test_batch_knn_rank_limit_is_partial(spark, sf_dir, cat):
    df = cat["knn_batch_topk"].fn(spark, sf_dir)
    plan = X.physical_plan(df)
    partial = plan.index("Partial")
    assert "WindowGroupLimit" in plan
    # partial window-group-limit must appear below (after, in tree print
    # order) the exchange — per-partition top-k before the shuffle
    assert "Exchange" in plan[: plan.rindex("WindowGroupLimit")]
    assert partial > 0


def test_batch_knn_has_no_cross_join(spark, sf_dir, cat):
    # queries ride in the scoring kernel's closure: no pairwise join
    plan = X.physical_plan(cat["knn_batch_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_point_get_pushes_filter_to_scan(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    df = emb.filter(F.col("vec_id") == 42).select("vec_id")
    plan = X.physical_plan(df)
    assert "PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,42)]" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load(spark, "lineitem", sf_dir)
    df = li.groupBy("l_returnflag").count()
    cols = X.scan_columns(df)
    assert cols == ["l_returnflag"]  # 1 of 11 columns read


def test_stratified_sample_uses_window_group_limit(spark, sf_dir, cat):
    plan = X.physical_plan(cat["q_sample_stratified"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_grouping_sets_single_expand_one_shuffle(spark, sf_dir, cat):
    plan = X.physical_plan(cat["q_grouping_sets_orders"].fn(spark, sf_dir))
    # three grouping sets = one Expand feeding one agg, not three scans
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1


def test_incremental_dedup_broadcasts_batch_side(spark, sf_dir, cat):
    plan = X.physical_plan(cat["dedup_incremental_minhash"].fn(spark, sf_dir))
    # corpus signatures never shuffle: the batch side is broadcast
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_prunes_smj_probe_side(spark, sf_dir):
    # At cluster scale, big-big joins run as SMJ and Spark's runtime
    # bloom filter (InjectRuntimeFilter) builds a bloom from the
    # selective build side and prunes the probe side MAP-SIDE, before
    # the shuffle. Local data is below the default creation thresholds,
    # so pin the behavior by widening them — the plan shape is the one
    # a 100 TB join gets with stock confs.
    tuned = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        li = load(spark, "lineitem", sf_dir)
        orders = load(spark, "orders", sf_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        X.assert_in_plan(joined, "might_contain", "bloom_filter_agg", "SortMergeJoin")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_curation_pipeline_windows_dedup_and_broadcasts_losers(
    spark, sf_dir, cat
):
    plan = X.physical_plan(cat["pipeline_corpus_curation"].fn(spark, sf_dir))
    # exact dedup is a rank-1 window with map-side group limit,
    # not groupBy-min + join-back
    assert "WindowGroupLimit" in plan
    # every join has a broadcastable side (loser ids, band candidates)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_benchmark_shingles(spark, sf_dir, cat):
    plan = X.physical_plan(cat["text_decontaminate"].fn(spark, sf_dir))
    # the benchmark shingle set is the small side everywhere: the
    # corpus never shuffles on content
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.fixture(scope="module")
def ann_index(spark, sf_dir, tmp_path_factory):
    """Every ANN family's index over the smoke embeddings, written as
    parquet (so scans show their pushed filters), with local (Arrow)
    query and centroid frames, which cost no job to read."""
    import pyarrow as pa

    from cyborgdb_encrypted_vector_search_spark.functions import vector as V
    from cyborgdb_encrypted_vector_search_spark.operators import ann as A
    from cyborgdb_encrypted_vector_search_spark.operators import pq as P
    from cyborgdb_encrypted_vector_search_spark.operators import quant as Q

    root = tmp_path_factory.mktemp("ann_index")
    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    rows = emb.orderBy("vec_id").limit(8).collect()
    cent = spark.createDataFrame(pa.table({
        "centroid_id": pa.array(range(8), pa.int32()),
        "centroid": pa.array([r[1] for r in rows], pa.list_(pa.float64())),
    }))
    qvecs = [r[1] for r in emb.filter(F.col("vec_id").isin(3, 57, 201)).collect()]

    def local(**cols):
        return spark.createDataFrame(pa.table(cols))

    def write(df, name, part=None):
        w = df.write.mode("overwrite")
        (w.partitionBy(part) if part else w).parquet(str(root / name))
        return spark.read.parquet(str(root / name))

    A.build_ivf_layout(emb, cent, str(root / "ivf"))
    ivf = spark.read.parquet(str(root / "ivf"))
    lsh = write(A.with_lsh_buckets(V.with_unit_vectors(emb, "embedding")), "lsh")
    lq = lsh.filter(F.col("vec_id").isin(3, 57, 201)).collect()
    mins, maxs = Q.sq8_train(emb)
    Q.build_ivfsq_layout(emb, cent, mins, maxs, str(root / "ivfsq"))
    books = P.train_codebooks(emb, m=8, nbits=4, iters=3)
    resid = P.residual_frame(emb, cent)
    rbooks = P.train_codebooks(resid, vec_col="residual", m=8, nbits=4, iters=3)
    return {
        "emb": write(emb, "emb"),
        "cent": cent,
        "counts": local(
            centroid_id=pa.array(range(8), pa.int32()),
            n=pa.array(
                [r[1] for r in ivf.groupBy("centroid_id").count().orderBy("centroid_id").collect()],
                pa.int64(),
            ),
        ),
        "target": qvecs[0],
        "queries": local(query_id=pa.array([3, 57, 201], pa.int64()), query_vec=qvecs),
        "sq_queries": local(qid=pa.array([3, 57, 201], pa.int64()), qvec=qvecs),
        "ivf": ivf,
        "lsh": lsh,
        "lsh_queries": local(
            query_id=pa.array([r["vec_id"] for r in lq], pa.int64()),
            unit=[r["unit"] for r in lq],
            vnorm=[r["vnorm"] for r in lq],
            bucket=pa.array([r["bucket"] for r in lq], pa.int64()),
        ),
        "lsh_target": lq[0],
        "lsh_bucket": local(bucket=pa.array([lq[0]["bucket"]], pa.int64())),
        "mins": mins,
        "maxs": maxs,
        "sq8": write(Q.sq8_encode(emb, mins, maxs), "sq8"),
        "ivfsq": spark.read.parquet(str(root / "ivfsq")),
        "books": books,
        "rbooks": rbooks,
        "pq": write(P.encode(emb, books), "pq"),
        "ivfpq": write(
            P.encode(ivf, books, keep_cols=("centroid_id",)), "ivfpq", "centroid_id"
        ),
        "ivfadc": write(
            P.encode(resid, rbooks, vec_col="residual", keep_cols=("centroid_id",)),
            "ivfadc",
            "centroid_id",
        ),
    }


def _searches():
    from cyborgdb_encrypted_vector_search_spark.operators import ann as A
    from cyborgdb_encrypted_vector_search_spark.operators import pq as P
    from cyborgdb_encrypted_vector_search_spark.operators import quant as Q

    return {
        "ivf_search": lambda x: A.ivf_search(x["ivf"], x["cent"], x["target"], k=3, nprobe=2),
        "ivf_search_adaptive": lambda x: A.ivf_search_adaptive(
            x["ivf"], x["cent"], x["target"], k=3, counts=x["counts"]
        ),
        "ivf_search_batch": lambda x: A.ivf_search_batch(
            x["queries"], x["ivf"], x["cent"], k=3, nprobe=2
        ),
        "lsh_probe_search": lambda x: A.lsh_probe_search(
            x["lsh"], x["lsh_target"]["unit"], x["lsh_bucket"], k=3
        ),
        "lsh_search_batch": lambda x: A.lsh_search_batch(x["lsh"], x["lsh_queries"], k=3),
        "sq8_search": lambda x: Q.sq8_search(x["sq8"], x["mins"], x["maxs"], x["target"], k=5),
        "sq8_batch_search": lambda x: Q.sq8_batch_search(
            x["sq8"], x["mins"], x["maxs"], x["sq_queries"], k=5
        ),
        "ivfsq_search": lambda x: Q.ivfsq_search(
            x["ivfsq"], x["cent"], x["mins"], x["maxs"], x["target"], k=5, nprobe=2
        ),
        "ivfsq_search_batch": lambda x: Q.ivfsq_search_batch(
            x["ivfsq"], x["cent"], x["mins"], x["maxs"], x["sq_queries"], k=5, nprobe=2
        ),
        "search_adc": lambda x: P.search_adc(
            x["pq"], x["books"], x["target"], k=5, rerank_df=x["emb"]
        ),
        "ivfpq_search": lambda x: P.ivfpq_search(
            x["ivfpq"], x["cent"], x["books"], x["target"], k=5, rerank_df=x["emb"]
        ),
        "ivfpq_search_batch": lambda x: P.ivfpq_search_batch(
            x["ivfpq"], x["cent"], x["books"], x["queries"], k=5, rerank_df=x["emb"]
        ),
        "ivfadc_search": lambda x: P.ivfadc_search(
            x["ivfadc"], x["cent"], x["rbooks"], x["target"], k=5, rerank_df=x["emb"]
        ),
        "ivfadc_search_batch": lambda x: P.ivfadc_search_batch(
            x["ivfadc"], x["cent"], x["rbooks"], x["queries"], k=5, rerank_df=x["emb"]
        ),
    }


@pytest.mark.parametrize("name", sorted(_searches()))
def test_ann_search_plan_shape(spark, ann_index, kernel_frames, name):
    """Every ANN search runs the one kernel: at most two narrow
    ``mapInArrow`` passes (approximate, then the exact re-rank), merged
    on the driver — no exchange, join, cross product or rank window.
    The quantized families' approximate pass reads only id, codes and
    centroid_id; the re-rank pass pushes the shortlist ``id IN`` into
    its scan; an IVF pass keeps only the probed ``centroid_id``
    partitions. The call runs one job per pass, as its queries and
    centroids are local frames."""
    sc = spark.sparkContext
    group = f"ann_plan_{name}"
    sc.setJobGroup(group, group)
    try:
        res = _searches()[name](ann_index).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res
    quantized = name.startswith(("sq8", "ivfsq", "search_adc", "ivfpq", "ivfadc"))
    assert len(kernel_frames) == (2 if quantized else 1)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    for df in kernel_frames:
        plan = X.physical_plan(df)
        assert "MapInArrow" in plan, plan
        for node in (
            "Exchange",
            "SortMergeJoin",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Window",
        ):
            assert node not in plan, (node, plan)
    # the PQ re-rank reads the flat full-precision frame, not the layout
    pruned = kernel_frames[:1] if name.startswith(("ivfpq", "ivfadc")) else kernel_frames
    for df in pruned if name.startswith("ivf") else ():
        plan = X.physical_plan(df)
        assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan), plan
    if quantized:
        approx, rerank = kernel_frames
        assert set(X.scan_columns(approx)) <= {"vec_id", "codes", "centroid_id"}
        pushed = [
            ln for ln in X.physical_plan(rerank).splitlines() if "FileScan" in ln
        ]
        assert pushed and all(
            re.search(r"PushedFilters: \[[^\]]*In\(vec_id", ln) for ln in pushed
        ), pushed
        assert "embedding" in X.scan_columns(rerank)


def test_sketch_gate_predicates_recomputed_from_raw_frame(spark, sf_dir):
    """The q_approx_sketches booleans must equal the tolerance
    predicates recomputed in Python from the raw sketch-vs-exact frame
    — so a trivially-true Spark-side expression can't hide behind the
    oracle's own independently-computed booleans."""
    from cyborgdb_encrypted_vector_search_spark.plans import catalog as C

    raw = {
        r["event_type"]: r
        for r in C.sketch_accuracy_frame(spark, sf_dir).collect()
    }
    gate = {
        r["event_type"]: r
        for r in C.q_approx_sketches(spark, sf_dir).collect()
    }
    assert set(raw) == set(gate) and raw
    for et, r in raw.items():
        want_hll = abs(r["hll_users"] - r["n_users"]) <= 0.15 * r["n_users"]
        want_p50 = r["p40_exact"] <= r["p50_approx"] <= r["p60_exact"]
        assert gate[et]["hll_ok"] == want_hll, et
        assert gate[et]["p50_ok"] == want_p50, et
        # and the sketches genuinely meet the contract on testdata
        assert want_hll and want_p50, et


def test_ivf_layout_scan_prunes_to_probed_partitions(
    spark, sf_dir, cat, kernel_frames
):
    """The materialized IVF layout must behave as an inverted file: the
    probe's centroid IN-filter appears as a PartitionFilter on the
    kernel pass's parquet scan (pruned before any file IO) listing
    exactly the
    nprobe=2 probed lists, while the layout on disk holds all 8."""
    import glob
    import hashlib
    import os
    import re
    import tempfile

    cat["ann_ivf_layout_search"].fn(spark, sf_dir)
    plan = X.physical_plan(kernel_frames[-1])
    m = re.search(
        r"PartitionFilters: \[[^\]]*centroid_id[^\]]*?IN \(([^)]*)\)", plan
    )
    assert m, plan
    assert len(m.group(1).split(",")) == 2
    # recompute the artifact tag the same way the gate does (content
    # checksum included since r4 — the bare-sf_dir tag is stale)
    from cyborgdb_encrypted_vector_search_spark.plans.catalog import (
        _content_tag,
    )

    ctag = _content_tag(spark, sf_dir, "embeddings", "vec_id")
    tag = hashlib.md5(f"{sf_dir}:ivf_layout_v2:{ctag}".encode()).hexdigest()[:10]
    layout = os.path.join(tempfile.gettempdir(), f"ivf_layout_{tag}")
    n_parts = len(glob.glob(os.path.join(layout, "centroid_id=*")))
    assert n_parts == 8


def test_bm25_probe_broadcasts_query_terms(spark, sf_dir, cat):
    """The BM25 retrieval plan must be an inverted-index PROBE, not a
    corpus-side shuffle join: the exploded query-term batch (and the
    derived idf table) broadcast into the postings join, and the final
    per-query top-k is a rank-limited window."""
    df = cat["text_bm25_topk"].fn(spark, sf_dir)
    plan = X.physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    # the postings side must never sort-merge against the query batch
    assert "SortMergeJoin" not in plan, plan
    # the persisted index probe prunes to the query terms' buckets:
    # term_bucket IN (...) must land in PartitionFilters (zero bytes
    # read from unprobed directories)
    import re

    assert re.search(
        r"PartitionFilters: \[[^\]]*term_bucket[^\]]*\]", plan
    ), plan


def test_hll_rollup_merge_is_lossless(spark, sf_dir):
    """Datasketches HLL union must be exactly lossless: merging the
    per-day sketches yields the SAME estimate as one direct sketch over
    all rows — the property that lets a daily rollup table answer any
    day-range distinct-count with full-scan accuracy. (The gate's
    tolerance boolean can't see a silent merge degradation; this pins
    exact equality.)"""
    from pyspark.sql import functions as F

    ev = load(spark, "events", sf_dir)
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("d")
    )
    merged = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("s"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("m"))
    )
    rows = direct.join(merged, "event_type").collect()
    assert rows
    for r in rows:
        assert r["d"] == r["m"], r


@pytest.mark.parametrize(
    "name",
    [
        "dedup_jaccard_verified",
        "dedup_simhash",
        "dedup_winnow_overlap",
        "pipeline_corpus_curation",
        "q_heavy_hitters_cms",
    ],
)
def test_gate_persists_are_released(spark, sf_dir, cat, monkeypatch, name):
    """Every relation a gate persists is tracked, so release_all()
    leaves none of them cached. Entries are looked up by the persisted
    frames' plans, so relations other tests cached do not count."""
    from cyborgdb_encrypted_vector_search_spark.caching import release_all

    frame_cls, persisted = type(spark.range(1)), []
    for method in ("persist", "cache"):
        real = getattr(frame_cls, method)
        monkeypatch.setattr(
            frame_cls,
            method,
            lambda df, *a, _real=real, **k: persisted.append(df) or _real(df, *a, **k),
        )
    release_all()
    cat[name].fn(spark, sf_dir).collect()
    release_all()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert persisted
    assert [df for df in persisted if cm.lookupCachedData(df._jdf).nonEmpty()] == []

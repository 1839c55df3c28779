"""Unit/property coverage for the round-5 continuation operators:
semantic pruning (SemDeDup), shingle containment, CDC snapshot diff,
incremental rollup maintenance, last-touch attribution, robust
outliers."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cyborgdb_encrypted_vector_search_spark.operators import dedup
from cyborgdb_encrypted_vector_search_spark.sources.collections import snapshot_diff


# ---------------------------------------------------------------- semantic


def test_semantic_prune_greedy_by_id(spark):
    """Within a cluster of mutual near-dups, everything except the
    smallest id is pruned and witnessed by an id smaller than itself;
    cross-cluster near-identical vectors are never compared."""
    rows = [
        # cluster 0: three near-identical vectors -> keep 1, prune 5, 9
        (1, [1.0, 0.0, 0.0], 0),
        (5, [0.999, 0.01, 0.0], 0),
        (9, [0.998, 0.02, 0.0], 0),
        # cluster 1: identical direction to cluster 0's members, but a
        # different block -> must NOT be pruned against them
        (3, [1.0, 0.0, 0.0], 1),
        # cluster 1: an orthogonal vector -> survives
        (4, [0.0, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, centroid_id int")
    out = dedup.semantic_prune(df, threshold=0.9).collect()
    pruned = {r["vec_id"]: r for r in out}
    assert set(pruned) == {5, 9}
    assert pruned[5]["witness"] == 1 and pruned[9]["witness"] == 1
    assert pruned[9]["n_witnesses"] == 2  # both 1 and 5 witness 9
    for r in out:
        assert r["witness"] < r["vec_id"]
        assert r["centroid_id"] == 0


def test_semantic_prune_zero_norm_guard(spark):
    """Zero-norm vectors take the -1.0 cosine sentinel and are never
    pruned (nor do they prune anything)."""
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.0, 0.0], 0),
        (3, [1.0, 0.0], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, centroid_id int")
    assert dedup.semantic_prune(df, threshold=0.5).count() == 0


# ------------------------------------------------------------- containment


def test_containment_directional(spark):
    """A contained-in-B scores 1.0 in the A->B direction while the
    B->A direction stays below threshold — the asymmetry symmetric
    Jaccard cannot express."""
    inner = "x" * 10 + "the quick brown fox jumps over the lazy dog" + "y" * 10
    outer = "PREFIX " * 30 + inner + " SUFFIX" * 30
    df = spark.createDataFrame(
        [(1, inner), (2, outer)], "doc_id long, text string"
    )
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, window=40, threshold=0.5).collect()
    }
    assert out[(1, 2)] == 1.0
    assert (2, 1) not in out  # outer is NOT contained in inner


def test_containment_max_df_guard(spark):
    """max_df drops boilerplate shingles shared by too many docs, so a
    shingle appearing everywhere stops generating candidate pairs."""
    boiler = "B" * 50
    docs = [(i, boiler) for i in range(1, 6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # without the guard: every ordered pair matches at containment 1.0
    assert dedup.containment_pairs(df, window=40, threshold=0.9).count() == 20
    # with max_df=3 the ubiquitous shingles are dropped entirely
    assert (
        dedup.containment_pairs(df, window=40, threshold=0.9, max_df=3).count()
        == 0
    )


# ------------------------------------------------------------ snapshot diff


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, "a", [1.0]), (2, "b", [2.0]), (3, "c", [3.0]), (4, None, [4.0])],
        "id long, label string, embedding array<double>",
    )
    new = spark.createDataFrame(
        [
            (1, "a", [1.0]),      # unchanged -> dropped
            (2, "B", [2.0]),      # label changed -> U
            (4, "now-set", [4.0]),  # null -> value: null-safe compare -> U
            (5, "e", [5.0]),      # new -> I
        ],
        "id long, label string, embedding array<double>",
    )
    got = {r["id"]: r["change"] for r in snapshot_diff(old, new).collect()}
    assert got == {2: "U", 3: "D", 4: "U", 5: "I"}


def test_snapshot_diff_array_change_detected(spark):
    old = spark.createDataFrame([(1, [1.0, 2.0])], "id long, embedding array<double>")
    new = spark.createDataFrame([(1, [1.0, 2.5])], "id long, embedding array<double>")
    assert [r["change"] for r in snapshot_diff(old, new).collect()] == ["U"]


def test_snapshot_diff_co_bucketed_is_shuffle_free(spark, sf_dir):
    """The documented scale path: snapshots stored as save_bucketed
    tables with the same bucket count diff with ZERO shuffle — the full
    outer join plans as SortMergeJoin directly over the co-bucketed
    files (no Exchange on either side)."""
    import uuid

    from cyborgdb_encrypted_vector_search_spark.plans import explain as X
    from cyborgdb_encrypted_vector_search_spark.sources.registry import load

    emb = load(spark, "embeddings", sf_dir).limit(200)
    rows = emb.select(
        F.col("vec_id").cast("string").alias("id"),
        "label",
        F.col("embedding").cast("array<float>").alias("embedding"),
    )
    ta = f"snap_old_{uuid.uuid4().hex[:8]}"
    tb = f"snap_new_{uuid.uuid4().hex[:8]}"
    rows.write.bucketBy(4, "id").sortBy("id").format("parquet").saveAsTable(ta)
    (
        rows.filter(F.xxhash64("id") % 5 != 0)
        .write.bucketBy(4, "id")
        .sortBy("id")
        .format("parquet")
        .saveAsTable(tb)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        diff = snapshot_diff(spark.table(ta), spark.table(tb), id_col="id")
        plan = X.physical_plan(diff)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert {r["change"] for r in diff.collect()} == {"D"}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# -------------------------------------------------------- incremental rollup


def test_incremental_rollup_merge_equals_direct(spark, sf_dir):
    """The maintenance identity: base-partials + delta-partials merged
    == direct full aggregation, bit-for-bit (counts and DECIMAL sums
    are commutative monoids)."""
    from cyborgdb_encrypted_vector_search_spark.plans.catalog import CATALOG
    from cyborgdb_encrypted_vector_search_spark.sources.registry import load

    merged = CATALOG["q_incremental_rollup"].fn(spark, sf_dir)
    o = load(spark, "orders", sf_dir)
    direct = (
        o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


# ----------------------------------------------------------------- outliers


def test_outlier_mad_robust_to_the_outlier(spark):
    """Median/MAD fences are not dragged by the outlier itself: 9 tight
    values + 1 huge value -> exactly the huge one is flagged (a
    mean/stddev z-score on the same data flags nothing at z>3 because
    the outlier inflates sigma)."""
    vals = [100.0 + i for i in range(9)] + [10_000.0]
    df = spark.createDataFrame(
        [(i, "SEG", v) for i, v in enumerate(vals)], "id long, segment string, spend double"
    )
    med = df.groupBy("segment").agg(F.expr("percentile(spend, 0.5)").alias("med"))
    dev = df.join(F.broadcast(med), "segment").withColumn(
        "adev", F.abs(F.col("spend") - F.col("med"))
    )
    mad = dev.groupBy("segment").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    flagged = (
        dev.join(F.broadcast(mad), "segment")
        .filter(F.col("adev") > 3 * F.col("mad"))
        .collect()
    )
    assert [r["id"] for r in flagged] == [9]
    # classic z-score misses it: sigma is inflated by the outlier
    stats = df.agg(F.avg("spend").alias("mu"), F.stddev("spend").alias("sd")).collect()[0]
    assert abs(10_000.0 - stats["mu"]) / stats["sd"] < 3

"""Round-12 optimization pins: the star-contraction round-shape
change (duplicate-tolerant large-star without its distinct) —
correctness under duplicated/self-loop pair input."""

from __future__ import annotations

from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
    connected_components_star,
)


def test_star_contraction_duplicate_and_selfloop_input(spark):
    """The large-star phase no longer dedups its intermediate edge
    set; duplicated input pairs and self-loops must still yield exact
    component minima (min is duplicate-insensitive and the small-star
    distinct dedups the stored set)."""
    pairs = [(5, 6), (6, 5), (5, 6), (7, 7), (1, 2), (2, 3), (2, 3)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7}


def test_star_contraction_chain_rounds_still_logarithmic(spark):
    """The no-distinct large-star must not change the O(log n) round
    count on the adversarial chain shape."""
    chain = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(df, stats=stats).collect()
    }
    assert set(got.values()) == {0} and len(got) == 121
    assert stats["rounds"] <= 12

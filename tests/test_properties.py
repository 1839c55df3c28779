"""Property-based tests (SURVEY.md §5.3): cosine algebraic properties,
top-k consistency with full sort, MinHash/Jaccard coherence."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import knn

finite = st.floats(
    min_value=-100, max_value=100, allow_nan=False, allow_infinity=False, width=32
)
vec4 = st.lists(finite, min_size=4, max_size=4)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(vec4, vec4), min_size=1, max_size=8))
def test_cosine_symmetric_and_in_range(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "id long, a array<double>, b array<double>",
    )
    rows = df.select(
        V.cosine("a", "b").alias("ab"), V.cosine("b", "a").alias("ba")
    ).collect()
    for r in rows:
        assert abs(r["ab"] - r["ba"]) < 1e-9
        assert -1.0 - 1e-9 <= r["ab"] <= 1.0 + 1e-9


@settings(max_examples=6, deadline=None)
@given(st.lists(vec4, min_size=4, max_size=12), st.integers(min_value=1, max_value=5))
def test_topk_is_prefix_of_full_sort(spark, vectors, k):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vectors)], "vec_id long, embedding array<double>"
    )
    target = vectors[0]
    top = knn.topk_against_target(df, target, k=k, id_col="vec_id").collect()
    full = (
        knn.score_against_target(df, target)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .collect()
    )
    assert [r["vec_id"] for r in top] == [r["vec_id"] for r in full[:k]]


@settings(max_examples=6, deadline=None)
@given(vec4)
def test_normalize_idempotent_and_unit(spark, v):
    df = spark.createDataFrame([(v,)], "a array<double>")
    row = df.select(
        V.l2_normalize("a").alias("u"), V.norm(V.l2_normalize("a")).alias("n")
    ).collect()[0]
    if any(x != 0.0 for x in v):
        assert abs(row["n"] - 1.0) < 1e-9
    else:
        assert row["u"] == v  # zero vector passes through


@settings(max_examples=5, deadline=None)
@given(st.text(alphabet="ab ", min_size=0, max_size=40))
def test_minhash_identical_iff_same_shingles(spark, text):
    from cyborgdb_encrypted_vector_search_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, text), (2, text), (3, text + " unique suffix words here")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: tuple(r["signature"]) for r in dedup.minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]  # same text -> same signature, always


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=2,
        max_size=20,
        unique=True,
    )
)
def test_simhash_blocking_recall_matches_brute_force(spark, fps):
    # Pigeonhole recall is EXACT: the blocked candidate join must return
    # precisely the pairs brute-force Hamming says are within threshold
    # (no false negatives from blocking; false positives are verified
    # away). Holds for any fingerprints, any bit pattern.
    from cyborgdb_encrypted_vector_search_spark.operators import dedup

    rows = list(enumerate(fps))
    expected = set()
    for i, a in rows:
        for j, b in rows:
            if i < j and bin((a ^ b) & ((1 << 64) - 1)).count("1") <= 3:
                expected.add((i, j))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_block_candidates(
            df, num_blocks=4, bits_per_block=16, max_hamming=3
        ).collect()
    }
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.text(alphabet="abc xyz", min_size=0, max_size=30), min_size=2, max_size=6)
)
def test_cross_score_is_bounded_symmetric_jaccard(spark, texts):
    """Property: the default rerank scorer is a true Jaccard — in
    [0, 1], symmetric, 1.0 on identical non-empty token sets, 0.0 when
    both sides are tokenless."""
    from cyborgdb_encrypted_vector_search_spark.functions import rerank as RR

    pairs = [
        (i, a, b) for i, (a, b) in enumerate(zip(texts, reversed(texts)))
    ]
    df = spark.createDataFrame(pairs, "i long, a string, b string").select(
        "a",
        "b",
        RR.cross_score("a", "b").alias("ab"),
        RR.cross_score("b", "a").alias("ba"),
        RR.cross_score("a", "a").alias("aa"),
    )
    for r in df.collect():
        assert 0.0 <= r["ab"] <= 1.0
        assert r["ab"] == r["ba"]
        if any(c.isalnum() for c in r["a"]):
            assert r["aa"] == 1.0
        else:
            assert r["aa"] == 0.0


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(1, 20)),
        min_size=1,
        max_size=30,
    )
)
def test_rrf_scores_are_rank_sums(spark, rows):
    """Property: rrf_fuse's score equals the exact decimal sum of
    1/(60+rank) over the rankings each (query, doc) appears in, and
    output ranks are dense 1..n per query ordered by (score desc, doc)."""
    from decimal import Decimal

    from cyborgdb_encrypted_vector_search_spark.operators import retrieval as R

    df = spark.createDataFrame(rows, "query_id int, doc int, rank int")
    out = R.rrf_fuse([df], k_const=60, topk=1000).collect()
    for r in out:
        exp = float(
            sum(
                (Decimal(str(round(1.0 / (60 + rk), 8))) for (q, d, rk) in rows
                 if q == r["query_id"] and d == r["doc"]),
                Decimal(0),
            )
        )
        assert abs(r["rrf_score"] - exp) < 1e-9, (r, exp)
    # dense ranks per query
    byq = {}
    for r in out:
        byq.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in byq.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

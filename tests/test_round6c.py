"""Round-6 second-wave operators: edit-distance join, CMS heavy
hitters."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.operators import dedup
from cyborgdb_encrypted_vector_search_spark.plans.explain import physical_plan


@pytest.fixture(scope="module")
def cat():
    from cyborgdb_encrypted_vector_search_spark.plans.catalog import entries

    return entries()


# ---------------------------------------------------------------- editdist


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_editdist_pairs_finds_exactly_the_close_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3  # 135 chars
    rows = [
        (1, base),
        (2, base + "xy"),            # distance 2 (two inserts)
        (3, base[:-1] + "Q"),        # distance 1 (one substitute)
        (4, base[10:] + base[:10]),  # rotation: far from base
        (5, "z" * 100),              # unrelated
    ]
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in dedup.editdist_pairs(
            _corpus(spark, rows), max_dist=2, window=25
        ).collect()
    }
    assert (1, 2, 2) in got
    assert (1, 3, 1) in got
    # docs 2 and 3 differ by 3 edits (xy suffix vs Q substitute) — out
    assert not any(a == 2 and b == 3 for a, b, _ in got)
    assert not any(4 in (a, b) or 5 in (a, b) for a, b, _ in got)


def test_editdist_pairs_survives_repetitive_text(spark):
    # a doc of one repeated char has ONE distinct window — a count
    # filter over distinct shared strings would drop this true pair;
    # the positional count bound must keep it
    rows = [(1, "z" * 100), (2, "z" * 100 + "qq")]
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in dedup.editdist_pairs(
            _corpus(spark, rows), max_dist=2, window=25
        ).collect()
    }
    assert got == {(1, 2, 2)}


def test_editdist_pairs_excludes_below_length_floor(spark):
    # length < (d+1)*w + d = 77: ineligible even though identical
    rows = [(1, "short text " * 5), (2, "short text " * 5)]
    assert len(rows[0][1]) < 77
    assert (
        dedup.editdist_pairs(_corpus(spark, rows), max_dist=2, window=25)
        .collect()
        == []
    )


def test_editdist_plan_has_no_cartesian(spark, cat, sf_dir):
    plan = physical_plan(cat["dedup_editdist_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------- CMS heavy hitters


def test_cms_estimates_never_underestimate(spark, cat, sf_dir):
    rows = cat["q_heavy_hitters_cms"].fn(spark, sf_dir).collect()
    assert rows, "top-20 must be non-empty"
    for r in rows:
        assert r["cms_estimate"] >= r["exact_n"]
        assert r["overest"] is True


def test_cms_cells_are_mergeable_partial_sums(spark):
    # the sketch built from a split corpus, cell-summed, must equal the
    # sketch of the whole — additivity is what makes it a 100 TB sketch
    from cyborgdb_encrypted_vector_search_spark.plans import catalog as C

    ev = spark.createDataFrame(
        [(i, i % 7) for i in range(200)], "event_id long, user_id long"
    )

    def cells_of(df):
        keyed = df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_n")
        ).select(
            "user_id",
            "exact_n",
            F.explode(
                F.array(*[F.lit(i) for i in range(C._CMS_DEPTH)])
            ).alias("j"),
        ).withColumn(
            "bucket",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("j").cast("string"),
                                F.lit(":"),
                                F.col("user_id").cast("string"),
                            )
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(C._CMS_WIDTH),
            ),
        )
        return {
            (r["j"], r["bucket"]): r["c"]
            for r in keyed.groupBy("j", "bucket")
            .agg(F.sum("exact_n").cast("bigint").alias("c"))
            .collect()
        }

    whole = cells_of(ev)
    a = cells_of(ev.filter(F.col("event_id") < 97))
    b = cells_of(ev.filter(F.col("event_id") >= 97))
    merged: dict = {}
    for part in (a, b):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_cms_fact_scanned_once_via_cached_aggregate(spark, cat, sf_dir):
    # the sketch is derived from the persisted per-user aggregate, so
    # the plan reuses the cached frame instead of re-scanning the fact
    plan = physical_plan(cat["q_heavy_hitters_cms"].fn(spark, sf_dir))
    assert "InMemoryTableScan" in plan


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_editdist_pairs_matches_bruteforce_property(spark):
    # deterministic pseudo-random corpus with planted near-dups; the
    # blocked operator must reproduce the exact brute-force pair set
    import hashlib
    import random

    rng = random.Random(42)
    words = ["alpha", "bravo", "casa", "delta", "echo", "furl", "gamma"]
    docs = {}
    for i in range(14):
        base = " ".join(rng.choice(words) for _ in range(22))  # ~110 chars
        docs[i] = base
    # planted variants: delete 1 char, swap-sub 2 chars, append 2
    docs[100] = docs[0][:-1]
    docs[101] = "Q" + docs[1][1:-1] + "Q"
    docs[102] = docs[2] + "xy"
    docs[103] = docs[3][:50] + docs[4][50:]  # chimera: far from both
    corpus = _corpus(spark, list(docs.items()))
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in dedup.editdist_pairs(corpus, max_dist=2, window=25).collect()
    }
    eligible = {k: v for k, v in docs.items() if len(v) >= 77}
    want = set()
    for a in sorted(eligible):
        for b in sorted(eligible):
            if a < b:
                d = _lev(eligible[a], eligible[b])
                if d <= 2:
                    want.add((a, b, d))
    assert got == want


def test_pagerank_fixedpoint_mass_and_order(spark):
    from cyborgdb_encrypted_vector_search_spark.operators import graph as G

    # star graph: center 1 linked to 2..5 — center must outrank leaves,
    # leaves tie exactly (identical integer arithmetic)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "src long, dst long"
    )
    r = {
        row["v"]: row["rank_fp"]
        for row in G.pagerank_fixedpoint(edges, iterations=3).collect()
    }
    assert len(r) == 5
    leaves = {r[v] for v in (2, 3, 4, 5)}
    assert len(leaves) == 1  # exact tie, not approximately equal
    assert r[1] > r[2]
    # total fixed-point mass stays within floor-division slack of 1.0
    assert abs(sum(r.values()) - G.RANK_SCALE) < 100 * len(r)


def test_pagerank_fixedpoint_tracks_float_reference(spark):
    from cyborgdb_encrypted_vector_search_spark.operators import graph as G

    # small deterministic graph; fixed-point ranks must match a float
    # power-iteration reference to ~1e-9 relative (fixed-point floor
    # loss only)
    import random

    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(12), 2))) for _ in range(30)})
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["v"]: r["rank_fp"] / G.RANK_SCALE
        for r in G.pagerank_fixedpoint(edf, iterations=3).collect()
    }
    # float reference
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    n = len(adj)
    r = {v: 1.0 / n for v in adj}
    for _ in range(3):
        nxt = {v: 0.15 / n for v in adj}
        for u, nbrs in adj.items():
            share = r[u] / len(nbrs)
            for v in nbrs:
                nxt[v] += 0.85 * share
        r = nxt
    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) < 1e-6

"""Round-7 additions: k-truss peeling, SCAN clustering, co-occurrence
hub cap, quantile error-bound gate, cache release valve,
and the StubChatModel whitespace round-trip."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark import caching
from cyborgdb_encrypted_vector_search_spark.functions import llm as L
from cyborgdb_encrypted_vector_search_spark.operators import graph as G
from cyborgdb_encrypted_vector_search_spark.operators import ranking as R

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cat():
    from cyborgdb_encrypted_vector_search_spark.plans.catalog import entries

    return entries()


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


# Two 4-cliques joined by one bridge edge. Inside a 4-clique every edge
# has triangle support 2; the bridge has support 0.
_CLIQUE_A = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
_CLIQUE_B = [(11, 12), (11, 13), (11, 14), (12, 13), (12, 14), (13, 14)]
_BRIDGE = [(4, 11)]


def test_ktruss_fixedpoint_two_cliques(spark):
    """k=4 (support >= 2) peels the bridge and keeps both 4-cliques —
    the fixed point of the decomposition — and an extra peel of the
    converged set is idempotent (the property the oracle's fixed-round
    unrolling relies on)."""
    edges = _edges(spark, _CLIQUE_A + _CLIQUE_B + _BRIDGE)
    kept = sorted(
        (r["src"], r["dst"]) for r in G.ktruss_edges(edges, k=4).collect()
    )
    assert kept == sorted(_CLIQUE_A + _CLIQUE_B)
    caching.release_all()
    # idempotence: more rounds than needed changes nothing
    kept5 = sorted(
        (r["src"], r["dst"])
        for r in G.ktruss_edges(edges, k=4, rounds=5).collect()
    )
    assert kept5 == kept
    caching.release_all()


def test_ktruss_cascade_and_k2(spark):
    """A triangle hanging off a 4-clique by one shared edge dies in the
    SECOND peel round for k=4: (4,5),(1,5) have support 1 and drop in
    round one, which cannot un-truss the clique; but for k=5 (support
    >= 3) the whole graph peels to empty — peeling must cascade, not
    just threshold once. k=2 keeps everything by definition."""
    tail = [(1, 5), (4, 5)]  # triangle (1,4,5) shares edge (1,4)
    edges = _edges(spark, _CLIQUE_A + tail)
    kept = sorted(
        (r["src"], r["dst"]) for r in G.ktruss_edges(edges, k=4).collect()
    )
    assert kept == sorted(_CLIQUE_A)
    assert G.ktruss_edges(edges, k=5).count() == 0
    assert G.ktruss_edges(edges, k=2).count() == len(_CLIQUE_A + tail)
    with pytest.raises(ValueError):
        G.ktruss_edges(edges, k=1)
    caching.release_all()


def test_ktruss_enumerates_wedges_once(spark, monkeypatch):
    """The ORIENTED peeling path must run the triangle enumeration
    ONCE and prune the list thereafter — re-enumerating per round cost
    24.7s vs 4-8s at sf0.1. Pinned by counting _oriented_triangles
    calls with the kernel forced (the auto rule would route this
    near-regular fixture to the fulladj recompute path, which never
    enumerates triangles at all — also pinned below)."""
    calls = {"n": 0}
    orig = G._oriented_common_neighbors

    def counting(edges, deg=None):
        calls["n"] += 1
        return orig(edges, deg)

    monkeypatch.setattr(G, "_oriented_common_neighbors", counting)
    edges = _edges(spark, _CLIQUE_A + _CLIQUE_B + _BRIDGE + [(1, 11), (2, 12)])
    G.ktruss_edges(edges, k=4, rounds=3, kernel="oriented").count()
    assert calls["n"] == 1, calls
    # fulladj peeling never materializes triangles
    G.ktruss_edges(edges, k=4, rounds=3, kernel="fulladj").count()
    assert calls["n"] == 1, calls
    # triangle_count's oriented path delegates to the same shared core
    # (the r7 verdict flagged the inline duplicate copy), summing
    # intersection sizes; its fulladj path never enumerates
    G.triangle_count(edges, kernel="oriented").count()
    assert calls["n"] == 2, calls
    G.triangle_count(edges, kernel="fulladj").count()
    assert calls["n"] == 2, calls
    caching.release_all()


def test_ktruss_kernels_agree(spark):
    """Both peeling kernels (fulladj recompute-per-round and oriented
    list-prune) must produce the identical survivor set at every k —
    the auto rule is a cost choice, never a semantics choice."""
    edges = _edges(
        spark, _CLIQUE_A + _CLIQUE_B + _BRIDGE + [(1, 11), (2, 12), (3, 13)]
    )
    for k in (3, 4, 5):
        a = sorted(
            (r["src"], r["dst"])
            for r in G.ktruss_edges(edges, k=k, kernel="fulladj").collect()
        )
        b = sorted(
            (r["src"], r["dst"])
            for r in G.ktruss_edges(edges, k=k, kernel="oriented").collect()
        )
        assert a == b, (k, a, b)
    caching.release_all()


def test_trussness_two_cliques_and_bridge(spark):
    """Each 4-clique is exactly a 4-truss (every edge in 2 triangles),
    the bridge is in none — trussness 4 for all clique edges, 2 for
    the bridge; every input edge gets a row."""
    edges = _edges(spark, _CLIQUE_A + _CLIQUE_B + _BRIDGE)
    got = {
        (r["src"], r["dst"]): r["trussness"]
        for r in G.edge_trussness(edges).collect()
    }
    want = {e: 4 for e in _CLIQUE_A + _CLIQUE_B}
    want[(4, 11)] = 2
    assert got == want
    with pytest.raises(ValueError):
        G.edge_trussness(edges, k_max=2)
    caching.release_all()


def test_cooccurrence_hub_cap(spark, caplog):
    """max_context_size drops oversized contexts entirely (never a
    partial sample) and logs WHAT was dropped — the dedup max_df
    discipline applied to the co-occurrence self-join."""
    rows = [("big", e) for e in range(1, 6)] + [("small", 10), ("small", 11)]
    df = spark.createDataFrame(rows, "ctx string, ent long")
    with caplog.at_level(logging.WARNING, logger=G.__name__):
        capped = G.cooccurrence_edges(
            df, "ent", "ctx", max_context_size=3
        ).collect()
    assert sorted((r["src"], r["dst"]) for r in capped) == [(10, 11)]
    assert any(
        "dropped 1 context" in rec.getMessage() for rec in caplog.records
    )
    # uncapped: the big context contributes C(5,2) = 10 pairs
    assert G.cooccurrence_edges(df, "ent", "ctx").count() == 11
    with pytest.raises(ValueError):
        G.cooccurrence_edges(df, "ent", "ctx", max_context_size=0)


def test_scan_clusters_two_cliques(spark):
    """eps=0.7: all clique edges are strong (sigma >= 0.89), the bridge
    is weak (sigma = 0.4); mu=3 makes all 8 vertices cores — exactly
    two communities, labeled by their smallest member, no borders."""
    edges = _edges(spark, _CLIQUE_A + _CLIQUE_B + _BRIDGE)
    got = sorted(
        (r["v"], r["cluster"], r["is_core"])
        for r in G.scan_clusters(edges, 7, 10, mu=3).collect()
    )
    want = sorted(
        [(v, 1, True) for v in (1, 2, 3, 4)]
        + [(v, 11, True) for v in (11, 12, 13, 14)]
    )
    assert got == want
    caching.release_all()


def test_scan_clusters_border_and_empty(spark):
    """5-clique {1..5} plus vertex 6 adjacent to 1-4: at eps=0.9 every
    edge is strong; mu=6 leaves only the degree-5 vertices 1-4 as cores
    and 5, 6 as BORDER members of cluster 1 (strong-adjacent to a core,
    not cores themselves). mu above every strong degree clusters
    nothing."""
    clique5 = [
        (a, b) for a in range(1, 6) for b in range(a + 1, 6)
    ]
    edges = _edges(spark, clique5 + [(1, 6), (2, 6), (3, 6), (4, 6)])
    got = sorted(
        (r["v"], r["cluster"], r["is_core"])
        for r in G.scan_clusters(edges, 9, 10, mu=6).collect()
    )
    want = sorted(
        [(v, 1, True) for v in (1, 2, 3, 4)]
        + [(5, 1, False), (6, 1, False)]
    )
    assert got == want
    assert G.scan_clusters(edges, 9, 10, mu=8).count() == 0
    with pytest.raises(ValueError):
        G.scan_clusters(edges, 11, 10, mu=3)
    with pytest.raises(ValueError):
        G.scan_clusters(edges, 7, 10, mu=1)
    caching.release_all()


def test_scan_roles_hub_and_outlier(spark):
    """Two 4-cliques, vertex 20 bridging them by one weak edge to each
    (neighbors span BOTH clusters → hub), and pendant vertex 7 hanging
    off clique A (one neighbor, one cluster → outlier). All clique
    vertices stay cores; clusters keep their smallest-member labels."""
    edges = _edges(
        spark, _CLIQUE_A + _CLIQUE_B + [(1, 20), (11, 20), (1, 7)]
    )
    got = sorted(
        (r["v"], r["cluster"], r["role"])
        for r in G.scan_roles(edges, 7, 10, mu=3).collect()
    )
    want = sorted(
        [(v, 1, "core") for v in (1, 2, 3, 4)]
        + [(v, 11, "core") for v in (11, 12, 13, 14)]
        + [(20, -1, "hub"), (7, -1, "outlier")]
    )
    assert got == want
    caching.release_all()


def test_quantile_bounds_gate_smoke(spark, cat):
    """The approx-vs-exact cross-gate holds at sf0.001: every quantile's
    sketch answer is within its documented rank tolerance of the exact
    row-number answer."""
    rows = cat["q_quantile_bounds_orders"].fn(spark, SF).collect()
    assert len(rows) == 6
    assert all(r["bound_ok"] for r in rows), rows
    assert all(r["exact_value"] is not None for r in rows)
    caching.release_all()


def test_release_all_unpersists_tracked_frames(spark):
    """The cache release valve: scalable_row_number's correctness
    persist stays alive through the caller's action, then release_all
    drops it (and is safe to call twice / after no tracking)."""
    caching.release_all()  # clean slate
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    out = R.scalable_row_number(df, [("g", True), ("id", True)])
    assert out.count() == 100
    assert len(caching._LIVE) >= 1
    tracked = list(caching._LIVE)
    released = caching.release_all()
    assert released == len(tracked)
    assert all(not t.storageLevel.useMemory for t in tracked)
    assert caching.release_all() == 0


def test_stub_chat_model_preserves_whitespace():
    """A candidate with leading/trailing whitespace round-trips
    byte-exact — the oracle compares against verbatim text, so the
    stub must not trim (round-7 fix)."""
    prompt = (
        L.PROMPT_HEADER
        + "\n--- Candidate 1 ---\n  padded text \n--- Candidate 2 ---\nother"
        + L.PROMPT_FOOTER
    )
    assert L.StubChatModel().invoke(prompt) == "  padded text "


def test_graph_gate_queries_smoke(spark, cat):
    """q_graph_ktruss / q_graph_scan_clusters run end-to-end on the
    smoke data with stable schemas."""
    kt = cat["q_graph_ktruss"].fn(spark, SF)
    assert kt.columns == ["n_edges", "n_nodes", "edge_checksum"]
    row = kt.collect()[0]
    assert row["n_edges"] >= 0
    caching.release_all()
    sc = cat["q_graph_scan_clusters"].fn(spark, SF)
    assert sc.columns == ["v", "cluster", "is_core"]
    sc.collect()
    caching.release_all()

"""Round-8 additions: star-contraction connected components (the
O(log n)-round CC the r7 verdict asked to ship as executed code), the
support-kernel cost split, and the trussness histogram gate pieces."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark import caching
from cyborgdb_encrypted_vector_search_spark.operators import graph as G
from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)

pytestmark = pytest.mark.usefixtures("spark")


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )


def _py_components(edges):
    """Union-find reference: node -> min reachable node id."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


edge_sets = st.sets(
    st.tuples(st.integers(1, 12), st.integers(1, 12)).map(
        lambda p: (min(p), max(p))
    ).filter(lambda p: p[0] < p[1]),
    min_size=1,
    max_size=20,
)


@settings(max_examples=12, deadline=None)
@given(edges=edge_sets)
def test_star_cc_matches_union_find(spark, edges):
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(_pairs(spark, edges)).collect()
    }
    assert got == _py_components(edges)
    caching.release_all()


@settings(max_examples=8, deadline=None)
@given(edges=edge_sets)
def test_star_cc_differential_vs_minlabel(spark, edges):
    """Both halves of connected_components label every node with its
    component minimum: the star contraction (its distributed half)
    equals connected_components on these graphs, which are under the
    cap and so close on the driver."""
    df = _pairs(spark, edges)
    a = {
        r["node"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    b = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert a == b
    caching.release_all()


def test_star_cc_path_graph_rounds_logarithmic(spark):
    """The adversarial-diameter case the contraction exists for: a
    64-node path has diameter 63 (min-label propagation would need ~63
    rounds); star contraction must finish in O(log n) rounds and still
    be exact."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    stats: dict = {}
    labels = {
        r["node"]: r["component"]
        for r in connected_components_star(
            _pairs(spark, edges), stats=stats
        ).collect()
    }
    assert labels == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 10, stats  # ~log2(64)=6 + slack, never 63
    caching.release_all()


def test_star_cc_empty_and_single_edge(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components_star(empty).count() == 0
    one = _pairs(spark, [(7, 3)])
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(one).collect()
    }
    assert got == {3: 3, 7: 3}
    caching.release_all()


def test_minlabel_cc_empty_short_circuit(spark, cc_placements):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    for placement in cc_placements():
        assert connected_components(empty).count() == 0, placement
    caching.release_all()


def test_support_kernels_agree(spark):
    """fulladj and oriented support kernels are physical alternatives
    for one logical operator — identical (src, dst, support) output,
    including the inner semantics (no row for support-0 edges)."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (3, 5), (1, 9)],
        "src long, dst long",
    )
    a = sorted(
        (r["src"], r["dst"], r["support"])
        for r in G.edge_triangle_support(edges, kernel="fulladj").collect()
    )
    b = sorted(
        (r["src"], r["dst"], r["support"])
        for r in G.edge_triangle_support(edges, kernel="oriented").collect()
    )
    assert a == b
    assert all(s >= 1 for _, _, s in a)
    assert (1, 9) not in {(x, y) for x, y, _ in a}  # support-0 edge absent
    with pytest.raises(ValueError):
        G.edge_triangle_support(edges, kernel="bogus").collect()
    # triangle_count: both kernels, same exact count
    ca = G.triangle_count(edges, kernel="fulladj").head()
    cb = G.triangle_count(edges, kernel="oriented").head()
    assert (ca["n_edges"], ca["n_triangles"]) == (
        cb["n_edges"],
        cb["n_triangles"],
    )
    with pytest.raises(ValueError):
        G.triangle_count(edges, kernel="bogus").collect()
    caching.release_all()


def test_support_kernel_auto_routes_by_skew(spark):
    """The one-agg cost rule: near-regular graphs take the fulladj
    kernel, star graphs (Σd² = n² vs the O(m^1.5) oriented bound)
    take the oriented kernel."""
    clique = spark.createDataFrame(
        [(a, b) for a in range(1, 7) for b in range(a + 1, 7)],
        "src long, dst long",
    )
    assert G._support_kernel_auto(clique) == "fulladj"
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 800)], "src long, dst long"
    )
    assert G._support_kernel_auto(star) == "oriented"
    caching.release_all()


def test_scan_eps_test_survives_huge_support(spark):
    """The r8 DECIMAL fix: (cn+2)²·eps_den² in 64-bit longs wraps once
    support tops ~3e7. Pin the decimal arithmetic with a synthetic
    frame pushed through the same expressions scan_clusters builds."""
    cn = 40_000_000  # (cn+2)² ≈ 1.6e15; ×eps_den²=1e4 ≈ 1.6e19 > 2^63
    df = spark.createDataFrame(
        [(cn, 50_000_000, 50_000_000)], "cn long, ds long, dd long"
    )
    eps_num, eps_den = 45, 100
    cnp = (F.col("cn") + F.lit(2)).cast("decimal(19,0)")
    lhs = cnp * cnp * F.lit(eps_den * eps_den).cast("decimal(19,0)")
    rhs = (
        F.lit(eps_num * eps_num).cast("decimal(19,0)")
        * (F.col("ds") + 1).cast("decimal(19,0)")
        * (F.col("dd") + 1).cast("decimal(19,0)")
    )
    row = df.select(
        lhs.alias("lhs"), rhs.alias("rhs"), (lhs >= rhs).alias("strong")
    ).head()
    assert int(row["lhs"]) == (cn + 2) ** 2 * eps_den**2
    assert int(row["rhs"]) == eps_num**2 * 50_000_001**2
    assert bool(row["strong"]) == (
        (cn + 2) ** 2 * eps_den**2 >= eps_num**2 * 50_000_001**2
    )


def _edges_df(spark, edges):
    return spark.createDataFrame(
        sorted((int(a), int(b)) for a, b in edges), "src long, dst long"
    )


def _py_kcore(edges, k):
    cur = set(edges)
    while True:
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        nxt = {(a, b) for a, b in cur if deg[a] >= k and deg[b] >= k}
        if nxt == cur:
            return cur
        cur = nxt


graph_sets = st.sets(
    st.tuples(st.integers(1, 10), st.integers(1, 10)).map(
        lambda p: (min(p), max(p))
    ).filter(lambda p: p[0] < p[1]),
    min_size=3,
    max_size=20,
)


@settings(max_examples=10, deadline=None)
@given(edges=graph_sets, k=st.integers(1, 4))
def test_kcore_matches_python_peeler(spark, edges, k):
    got = sorted(
        (r["src"], r["dst"])
        for r in G.kcore_edges(_edges_df(spark, edges), k=k).collect()
    )
    assert got == sorted(_py_kcore(edges, k))
    caching.release_all()


def test_kcore_cascade_and_bounds(spark):
    """A chain hanging off a 4-clique peels one link per round for
    k=2 — peeling must cascade; the clique itself is the 3-core."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6), (6, 7)]
    df = _edges_df(spark, clique + chain)
    assert sorted(
        (r["src"], r["dst"]) for r in G.kcore_edges(df, k=3).collect()
    ) == sorted(clique)
    # one bounded round of k=2 removes only the chain's free end
    one = sorted(
        (r["src"], r["dst"])
        for r in G.kcore_edges(df, k=2, rounds=1).collect()
    )
    assert one == sorted(clique + [(4, 5), (5, 6)])
    assert G.kcore_edges(df, k=5).count() == 0
    with pytest.raises(ValueError):
        G.kcore_edges(df, k=0)
    caching.release_all()


def _py_common_neighbors(edges, min_common):
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for w, nb in adj.items():
        nbs = sorted(nb)
        for i, u in enumerate(nbs):
            for v in nbs[i + 1:]:
                if v not in adj[u]:
                    out[(u, v)] = out.get((u, v), 0) + 1
    return {p: c for p, c in out.items() if c >= min_common}


@settings(max_examples=10, deadline=None)
@given(edges=graph_sets, min_common=st.integers(1, 3))
def test_link_prediction_matches_bruteforce(spark, edges, min_common):
    got = {
        (r["u"], r["v"]): r["cn"]
        for r in G.common_neighbor_candidates(
            _edges_df(spark, edges), min_common=min_common
        ).collect()
    }
    assert got == _py_common_neighbors(edges, min_common)
    caching.release_all()


def test_link_prediction_hub_cap(spark, caplog):
    """max_apex_degree drops oversized apexes whole (their wedge pairs
    vanish) and logs the drop — the cooccurrence hub-cap discipline."""
    import logging

    hub = [(1, i) for i in range(2, 8)]       # apex 1, degree 6
    small = [(10, 20), (10, 30)]              # apex 10, degree 2
    df = _edges_df(spark, hub + small)
    with caplog.at_level(logging.WARNING, logger=G.__name__):
        got = {
            (r["u"], r["v"]): r["cn"]
            for r in G.common_neighbor_candidates(
                df, min_common=1, max_apex_degree=3
            ).collect()
        }
    assert got == {(20, 30): 1}
    assert any("dropped 1 apex" in rec.getMessage() for rec in caplog.records)
    # uncapped, apex 1 contributes C(6,2) = 15 non-edge pairs
    assert (
        G.common_neighbor_candidates(df, min_common=1).count() == 16
    )
    with pytest.raises(ValueError):
        G.common_neighbor_candidates(df, min_common=0)
    with pytest.raises(ValueError):
        G.common_neighbor_candidates(df, max_apex_degree=1)
    caching.release_all()


def test_support_auto_kernel_string_ids(spark):
    """Vertex ids may be any orderable type (string doc ids): the
    auto cost model must not assume integers — the int32 narrowing
    simply stays off. (Regression: r8's first cut compared a Python
    int bound against string min/max and raised TypeError.)"""
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
        "src string, dst string",
    )
    row = G.triangle_count(edges).head()
    assert (row["n_edges"], row["n_triangles"]) == (4, 1)
    sup = {
        (r["src"], r["dst"]): r["support"]
        for r in G.edge_triangle_support(edges).collect()
    }
    assert sup == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}
    caching.release_all()


def test_star_cc_self_loop_only_node(spark):
    """A node whose only incidences are self-pairs must still be
    labeled with itself — the driver closure's contract. (Regression:
    the first cut derived nodes from the self-loop-filtered union.)"""
    pairs = _pairs(spark, [(5, 5), (1, 2)])
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(pairs).collect()
    }
    want = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == want == {1: 1, 2: 1, 5: 5}
    caching.release_all()


def test_star_cc_warns_when_not_converged(spark, caplog):
    import logging

    from cyborgdb_encrypted_vector_search_spark.operators import dedup as D

    chain = _pairs(spark, [(i, i + 1) for i in range(32)])
    with caplog.at_level(logging.WARNING, logger=D.__name__):
        connected_components_star(chain, max_iter=1).collect()
    assert any(
        "not converged" in rec.getMessage() for rec in caplog.records
    )
    caching.release_all()


def test_ktruss_rejects_unknown_kernel(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    with pytest.raises(ValueError):
        G.ktruss_edges(edges, k=3, kernel="fulladk")
    caching.release_all()

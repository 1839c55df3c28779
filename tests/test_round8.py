"""Round-8 additions: star-contraction connected components (the
O(log n)-round CC the r7 verdict asked to ship as executed code) and
common-neighbor link prediction."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

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


def _edges_df(spark, edges):
    return spark.createDataFrame(
        sorted((int(a), int(b)) for a, b in edges), "src long, dst long"
    )


graph_sets = st.sets(
    st.tuples(st.integers(1, 10), st.integers(1, 10)).map(
        lambda p: (min(p), max(p))
    ).filter(lambda p: p[0] < p[1]),
    min_size=3,
    max_size=20,
)


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

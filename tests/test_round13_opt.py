"""Round-13 optimization pins: the connected-components driver
closure (labels equal to the star contraction, one job under the cap),
entity resolution's over-cap distributed route, and the wedge link
predictors' packed (u << 32 | v) group key (exact equality to the
two-column key on graphs that allow it; refused for ids outside
[0, 2^31))."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.operators import dedup as D
from cyborgdb_encrypted_vector_search_spark.operators import graph as G


def test_driver_closure_matches_star_contraction(spark):
    """_driver_closure_rows labels identically to
    connected_components_star (component = min reachable id) on random
    graphs including duplicates."""
    for seed in (3, 11):
        rnd = random.Random(seed)
        pairs = [
            (rnd.randrange(30), rnd.randrange(30)) for _ in range(60)
        ]
        pairs = [(a, b) for a, b in pairs if a != b] + pairs[:5]
        df = spark.createDataFrame(
            [p for p in pairs if p[0] != p[1]], "a long, b long"
        )
        want = {
            (r["node"], r["component"])
            for r in D.connected_components_star(df, "a", "b").collect()
        }
        kept = [p for p in pairs if p[0] != p[1]]
        got = set(
            zip(*D._driver_closure_rows([a for a, _ in kept], [b for _, b in kept]))
        )
        assert got == want
        from cyborgdb_encrypted_vector_search_spark.caching import (
            release_all,
        )

        release_all()


def test_connected_components_under_cap_is_one_job(spark):
    """Under the driver-closure cap, connected_components is its one
    probe job: the collected edges close on the driver and come back
    as a local frame. The graph has the dedup_connected_components
    gate's size (1,880 pairs over 1,499 nodes at sf0.01)."""
    pairs = spark.range(1880, numPartitions=4).select(
        (F.col("id") * 7 % 1499).alias("doc_a"),
        (F.col("id") * 13 % 1499).alias("doc_b"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc_under_cap", "cc_under_cap")
    try:
        labels = D.connected_components(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc_under_cap")) == 1
    assert len(labels) == 1499


def _er_fixture(spark):
    """A miniature variant corpus in the gate's shape."""
    rows = []
    for k in range(1, 25):
        rows.append((k, f"name{k:03d} SEG", f"P{k * 7919}", k % 3))
        rows.append((k + 100, f"name{k:03d} seg", f"P{k * 7919}", k % 3))
        if k % 4 == 0:
            rows.append(
                (k + 200, f"name{k:03d} SEGX", f"Q{k * 7919}", k % 3)
            )
    return spark.createDataFrame(
        rows, "id long, name string, phone string, nation long"
    )


def _er_passes():
    return [
        (["phone"], lambda a, b: F.lit(True)),
        (
            [F.col("nation"), F.substring("name", 1, 7)],
            lambda a, b: F.levenshtein(a["name"], b["name"]) <= 2,
        ),
    ]


def test_resolve_entities_over_cap_routes_distributed(spark, monkeypatch):
    """Forcing the driver-closure cap to 0 must route BOTH entity-
    resolution paths through the scale-safe shuffle joins + the
    distributed star-contraction closure, with identical labels."""
    recs = _er_fixture(spark)
    base = {
        (r["id"], r["entity"])
        for r in D.resolve_entities(recs, "id", _er_passes()).collect()
    }
    from cyborgdb_encrypted_vector_search_spark.caching import release_all

    release_all()
    monkeypatch.setattr(D, "_DRIVER_CLOSURE_CAP", 0)
    forced = {
        (r["id"], r["entity"])
        for r in D.resolve_entities(recs, "id", _er_passes()).collect()
    }
    assert forced == base
    release_all()


def test_resolve_incremental_over_cap_matches_rebuild(spark, monkeypatch):
    recs = _er_fixture(spark)
    want = {
        (r["id"], r["entity"])
        for r in D.resolve_entities(recs, "id", _er_passes()).collect()
    }
    from cyborgdb_encrypted_vector_search_spark.caching import release_all

    release_all()

    def absorb():
        old = recs.filter(F.col("id") % 2 != 0)
        new = recs.filter(F.col("id") % 2 == 0)
        ol = D.resolve_entities(old, "id", _er_passes()).localCheckpoint()
        merged = D.resolve_entities_incremental(
            old, ol, new, "id", _er_passes()
        )
        return {(r["id"], r["entity"]) for r in merged.collect()}

    assert absorb() == want  # small path (driver closure + broadcasts)
    release_all()
    monkeypatch.setattr(D, "_DRIVER_CLOSURE_CAP", 0)
    assert absorb() == want  # over-cap: shuffle joins + distributed CC
    release_all()


def test_packed_key_refused_for_oversized_and_negative_ids(spark):
    assert G._ids_pack(0, 2**31 - 1)
    assert not G._ids_pack(-1, 10)
    assert not G._ids_pack(0, 2**31)
    assert not G._ids_pack("a", "z")
    # negative ids: the two-column fallback still yields exact counts
    edges = [(-5, 1), (-5, 2), (1, 7), (2, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["u"], r["v"]): r["cn"]
        for r in G.common_neighbor_candidates(df, min_common=1).collect()
    }
    assert got == {(1, 2): 2, (-5, 7): 2}
    from cyborgdb_encrypted_vector_search_spark.caching import release_all

    release_all()


def test_packed_key_boundary_ids_roundtrip(spark):
    """Ids at the extremes of the packable range survive the
    shift/mask roundtrip: the largest packable id 2^31 - 1 and 0."""
    m = 2**31 - 1
    edges = [(0, 1), (0, m), (1, 2), (2, m)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["u"], r["v"]): r["cn"]
        for r in G.common_neighbor_candidates(df, min_common=1).collect()
    }
    assert got == {(1, m): 2, (0, 2): 2}
    scores = {
        (r["u"], r["v"]): (r["cn"], r["ra_fp"], r["aa_fp"])
        for r in G.weighted_link_scores(df, min_common=1).collect()
    }
    S = G.LINKPRED_SCALE
    # apexes 0 and 2 (degree 2 each) witness (1, m); apexes 1 and m
    # witness (0, 2)
    term = (S // 2, S // 2)
    assert scores == {
        (1, m): (2, 2 * term[0], 2 * term[1]),
        (0, 2): (2, 2 * term[0], 2 * term[1]),
    }
    from cyborgdb_encrypted_vector_search_spark.caching import release_all

    release_all()


def test_dropped_hub_id_outside_packable_range_keeps_two_column_key(spark):
    """A hub dropped by max_apex_degree is no apex, but it is still a
    neighbor of the apexes that survive: its id (>= 2^32 here) must
    keep the packed key off, or (7, hub) would unpack as (7, 7)."""
    hub = 2**32 + 7
    edges = [(i, hub) for i in range(1, 7)]
    edges += [(7, 100), (100, hub), (7, 101), (101, hub)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["u"], r["v"]): (r["cn"], r["ra_fp"], r["aa_fp"])
        for r in G.weighted_link_scores(
            df, min_common=1, max_apex_degree=5
        ).collect()
    }
    h = G.LINKPRED_SCALE // 2  # every surviving apex here has degree 2
    assert got == {(7, hub): (2, 2 * h, 2 * h), (100, 101): (1, h, h)}
    cn = {
        (r["u"], r["v"]): r["cn"]
        for r in G.common_neighbor_candidates(
            df, min_common=1, max_apex_degree=5
        ).collect()
    }
    assert cn == {(7, hub): 2, (100, 101): 1}
    from cyborgdb_encrypted_vector_search_spark.caching import release_all

    release_all()

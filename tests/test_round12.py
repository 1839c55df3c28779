"""Round-12 pins: incremental entity resolution (VERDICT r11 task 4)
— equality to the full rebuild, the contraction's transitive-merge and
relabel-downward cases, the combined block cap's monotone drop
semantics, and the non-symmetric predicate orientation — plus the
machine-readable dropped-block stats on both paths (task 5 / what's
wrong #4)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _recs(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, name string, phone string"
    )


def _passes():
    # built lazily: Column construction needs an active session
    return [
        (["phone"], lambda a, b: F.lit(True)),
        (
            [F.substring("name", 1, 4)],
            lambda a, b: F.levenshtein(a["name"], b["name"]) <= 2,
        ),
    ]


def _labels(df):
    return {r["id"]: r["entity"] for r in df.collect()}


def test_resolve_entities_stats_zero_and_nonzero(spark):
    """stats out-param: zero drops on a fine key; a coarse key with
    max_block=1 reports per-pass and total drop counts — the loud,
    assertable replacement for scraping the warning log."""
    from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
        resolve_entities,
    )

    rows = [
        (1, "alpha one", "p1"),
        (2, "alpha two", "p1"),
        (3, "beta  one", "p2"),
    ]
    stats: dict = {}
    resolve_entities(_recs(spark, rows), "id", _passes(), stats=stats)
    assert stats["dropped_blocks"] == 0
    assert stats["dropped_blocks_per_pass"] == [0, 0]

    stats2: dict = {}
    resolve_entities(
        _recs(spark, rows), "id", _passes(), max_block=1, stats=stats2
    )
    # pass 1: block p1 has 2 members -> dropped; pass 2: block "alph"
    # has 2 members -> dropped
    assert stats2["dropped_blocks_per_pass"] == [1, 1]
    assert stats2["dropped_blocks"] == 2


def test_incremental_equals_rebuild(spark):
    """The core contract: resolve base, add a batch incrementally, and
    the labels equal a full rebuild on the union. The fixture forces
    every interesting shape: (a) two separate OLD entities merged
    transitively THROUGH a new record, (b) a new record with a smaller
    id than an old entity's label (the old cluster must relabel DOWN
    to it), (c) a new-new-only cluster, (d) untouched old entities,
    (e) an unmatched singleton new record."""
    from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
        resolve_entities,
        resolve_entities_incremental,
    )

    old_rows = [
        # entity A = {10, 11} via phone pA
        (10, "annx one", "pA"),
        (11, "anny one", "pA"),
        # entity B = {20, 21} via phone pB; name block "bobb"
        (20, "bobb one", "pB"),
        (21, "bobb two", "pB"),
        # untouched singleton
        (30, "carl one", "pC"),
        # old entity {40, 41} that a smaller new id will join
        (40, "dave one", "pD"),
        (41, "dave two", "pD"),
    ]
    new_rows = [
        # (a) bridges old entities A and B: phone pA joins A, and the
        # name lands in block "bobb" at levenshtein 1 from "bobb one"
        (100, "bobb ona", "pA"),
        # (b) smaller than old entity {40,41}: joins via phone pD
        (5, "eve  one", "pD"),
        # (c) new-new pair via phone pN
        (101, "fred one", "pN"),
        (102, "fred two", "pN"),
        # (e) unmatched singleton
        (103, "solo solo", "pZ"),
    ]
    old = _recs(spark, old_rows)
    new = _recs(spark, new_rows)
    passes = _passes()
    old_labels = resolve_entities(old, "id", passes)
    stats: dict = {}
    inc = resolve_entities_incremental(
        old, old_labels, new, "id", passes, stats=stats
    )
    full = resolve_entities(old.unionByName(new), "id", passes)
    got, want = _labels(inc), _labels(full)
    assert got == want
    assert stats["dropped_blocks"] == 0
    # the shapes the fixture promises, pinned against the REBUILD so a
    # fixture regression (e.g. a pass silently matching nothing) fails
    # here rather than hiding in trivial equality
    assert want[100] == want[10] == want[20] == 10  # (a) A-B merged
    assert want[40] == want[41] == want[5] == 5  # (b) relabel down
    assert want[101] == want[102] == 101  # (c) new-new cluster
    assert want[103] == 103 and want[30] == 30  # (e)/(d)


def test_incremental_drop_is_monotone(spark):
    """Combined-cap semantics: a block that crosses max_block only
    when the batch lands has its NEW pairs suppressed, counted in
    stats — but merges already in old_labels stand (monotone). The
    rebuild on the union would drop the whole block, so this is the
    documented divergence-under-drop; equality holds only at
    dropped_blocks == 0, which is exactly why the count is exposed."""
    from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
        resolve_entities,
        resolve_entities_incremental,
    )

    passes = [(["phone"], lambda a, b: F.lit(True))]
    old = _recs(spark, [(1, "a", "pX"), (2, "b", "pX")])
    new = _recs(spark, [(3, "c", "pX")])
    old_labels = resolve_entities(old, "id", passes, max_block=2)
    stats: dict = {}
    inc = resolve_entities_incremental(
        old, old_labels, new, "id", passes, max_block=2, stats=stats
    )
    assert stats["dropped_blocks"] == 1
    got = _labels(inc)
    # old merge stands; the new record's pairs were suppressed
    assert got == {1: 1, 2: 1, 3: 3}


def test_incremental_predicate_orientation(spark):
    """The predicate contract is (smaller-id row, larger-id row) on
    BOTH paths. A deliberately non-symmetric predicate (match iff the
    smaller id's name is lexicographically <= the larger's) must
    produce identical edges whether the old or the new record carries
    the smaller id."""
    from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
        resolve_entities,
        resolve_entities_incremental,
    )

    passes = [(["phone"], lambda a, b: a["name"] <= b["name"])]
    # one phone block pairs everything; with the (smaller-id row,
    # larger-id row) orientation the ONLY edge is (11, 20) ("abba" <=
    # "abba") — a flipped implementation would also admit (5, 10)
    # ("mid" <= "zeta") and diverge from the rebuild
    old = _recs(spark, [(10, "mid", "pQ"), (11, "abba", "pQ")])
    new = _recs(spark, [(5, "zeta", "pQ"), (20, "abba", "pQ")])
    old_labels = resolve_entities(old, "id", passes)
    inc = resolve_entities_incremental(old, old_labels, new, "id", passes)
    full = resolve_entities(old.unionByName(new), "id", passes)
    assert _labels(inc) == _labels(full)

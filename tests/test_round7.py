"""Round-7 additions: co-occurrence hub cap, cache release valve,
and the StubChatModel whitespace round-trip."""

from __future__ import annotations

import logging

import pytest

from cyborgdb_encrypted_vector_search_spark import caching
from cyborgdb_encrypted_vector_search_spark.functions import llm as L
from cyborgdb_encrypted_vector_search_spark.operators import dedup
from cyborgdb_encrypted_vector_search_spark.operators import graph as G


def test_release_all_unpersists_tracked_frames(spark):
    """The cache release valve: lsh_candidate_pairs' banded-frame
    persist stays alive through the caller's action, then release_all
    drops it (and is safe to call twice / after no tracking)."""
    caching.release_all()  # clean slate
    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "lorem ipsum dolor sit amet consectetur")],
        "doc_id long, text string",
    )
    out = dedup.lsh_candidate_pairs(df)
    assert out.count() == 1  # only the identical pair (1, 2)
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

"""Round-11 pins: the evolutionary generation-batch plan (VERDICT r10
task 6), the stabilized collection_upsert_delete disk-state protocol
(task 4), and encode_avi input validation (ADVICE)."""

from __future__ import annotations

import os

import pytest

from conftest import SF_SMOKE


def test_evolutionary_generation_stays_wide(spark):
    """The per-generation embed/score batch must stay one wide parallel
    stage, with the Arrow embed UDF inside that stage, so no future
    edit (or AQE rule) can silently serialize the generation loop onto
    one core. The population is an Arrow local frame, whose scan has
    min(rows, defaultParallelism) slices, coalesced to
    `_generation_width` (7 for the reference's 60-row population): the
    stage runs min(width, defaultParallelism) tasks, and the final plan
    has the UDF and no exchange."""
    from cyborgdb_encrypted_vector_search_spark.functions import embed as E
    from cyborgdb_encrypted_vector_search_spark.operators import search as S

    assert S._generation_width(60) == 7
    assert S._generation_width(8) == 1
    assert S._generation_width(1000) == 8

    target = E.embed_text("hello world", E.DEFAULT_DIM)
    unit = [float(x) for x in target]
    pop = [f"candidate text {i}" for i in range(60)]
    scored = S._generation_scored(
        spark, pop, E.make_embed_udf(E.DEFAULT_DIM), unit
    )
    rows = scored.collect()
    assert len(rows) == 60
    width = min(S._generation_width(60), spark.sparkContext.defaultParallelism)
    assert width > 1
    assert scored.rdd.getNumPartitions() == width
    plan = scored._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the embed UDF must be Arrow-batched and in the executed stage,
    # with no exchange between the local scan and the UDF for AQE to
    # collapse
    assert "ArrowEvalPython" in final
    assert "Exchange" not in final


def test_evolutionary_search_still_converges(spark):
    """The refactor onto _generation_scored must not change I1
    semantics: the property gate's invariants (result count, score
    range, dedup) hold on a small run."""
    from cyborgdb_encrypted_vector_search_spark.functions import embed as E
    from cyborgdb_encrypted_vector_search_spark.operators import search as S

    target = E.embed_text("the quick brown fox", E.DEFAULT_DIM)
    out = S.evolutionary_search(
        spark,
        target,
        ["quick fox", "lazy dog", "brown bear"],
        pop_size=12,
        generations=3,
        top_n=10,
        seed=7,
    ).collect()
    assert 0 < len(out) <= 10
    texts = [r["text"] for r in out]
    assert len(texts) == len(set(texts))  # dedup-max applied
    assert all(-1.0 <= r["score"] <= 1.0 + 1e-9 for r in out)
    # sorted desc by score with text tiebreak
    keys = [(-r["score"], r["text"]) for r in out]
    assert keys == sorted(keys)


def test_crud_gate_deterministic_and_bounded_tmp(spark):
    """VERDICT r10 what's-wrong #3: the gate now mutates a per-run
    copytree of an immutable cached base. Invocations must (a) agree
    exactly (the mutation outcome is state-independent), (b) leave the
    canonical base dir in place, (c) keep the IMMEDIATELY-previous
    run's copy alive so a held lazy result still collects after a new
    invocation (review finding r11), and (d) retire the grandparent
    copy so /tmp stays bounded at two copies."""
    from cyborgdb_encrypted_vector_search_spark.plans import catalog as C

    df1 = C.collection_upsert_delete(spark, SF_SMOKE)
    r1 = df1.collect()
    first_work = C._CRUD_WORK_DIRS[-1]
    assert os.path.isdir(first_work)
    r2 = C.collection_upsert_delete(spark, SF_SMOKE).collect()
    second_work = C._CRUD_WORK_DIRS[-1]
    assert r1 == r2
    assert second_work != first_work
    # (c) the held first result is still collectable — its dir lives
    assert os.path.isdir(first_work)
    assert df1.collect() == r1
    # (d) a third run retires the grandparent (run 1's copy)
    r3 = C.collection_upsert_delete(spark, SF_SMOKE).collect()
    assert r3 == r1
    assert not os.path.isdir(first_work)
    assert os.path.isdir(second_work)
    assert len(C._CRUD_WORK_DIRS) == 2
    # the immutable base survives (one canonical build per content tag)
    base = [
        d
        for d in os.listdir(os.path.dirname(second_work))
        if d.startswith("crud_base_")
    ]
    assert base, "canonical crud base dir missing"


def test_encode_avi_rejects_zero_fps():
    """ADVICE r10: fps=0 must raise a validating ValueError, not a
    ZeroDivisionError from the microseconds-per-frame division."""
    from cyborgdb_encrypted_vector_search_spark.operators import (
        multimodal as M,
    )

    frame = [[(1, 2, 3), (4, 5, 6)]]
    with pytest.raises(ValueError, match="fps"):
        M.encode_avi(2, 1, [frame], fps=0)
    with pytest.raises(ValueError, match="fps"):
        M.encode_avi(2, 1, [frame], fps=-5)


def test_resolve_entities_multipass_and_block_cap(spark):
    """resolve_entities: evidence from DIFFERENT passes must merge into
    one entity (exact-key pass + fuzzy in-block pass), unmatched
    records resolve to themselves, NULL blocking keys never block, and
    oversized blocks are dropped (their would-be pairs vanish) rather
    than going quadratic."""
    from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
        resolve_entities,
    )
    from pyspark.sql import functions as F

    rows = [
        # entity A: 1-2 share phone; 2-3 near-name (same block "aa")
        (1, "aaron smith", "p1", "aa"),
        (2, "AARON SMITH", "p1", "aa"),
        (3, "aaron smyth", "p2", "aa"),
        # singleton
        (4, "zed", "p9", "zz"),
        # NULL phone: must not pair with the other NULL phone
        (5, "nul one", None, "n1"),
        (6, "nul two", None, "n2"),
    ]
    df = spark.createDataFrame(
        rows, "id long, name string, phone string, blk string"
    )
    res = {
        r["id"]: r["entity"]
        for r in resolve_entities(
            df,
            "id",
            passes=[
                (["phone"], lambda a, b: F.lit(True)),
                (
                    ["blk"],
                    lambda a, b: F.levenshtein(
                        F.lower(a["name"]), F.lower(b["name"])
                    )
                    <= 2,
                ),
            ],
        ).collect()
    }
    assert res == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6}

    # block cap: a block of 3 dropped at max_block=2 -> all singletons
    res2 = {
        r["id"]: r["entity"]
        for r in resolve_entities(
            df,
            "id",
            passes=[(["blk"], lambda a, b: F.lit(True))],
            max_block=2,
        ).collect()
    }
    assert res2 == {i: i for i in range(1, 7)}

    import pytest as _p

    with _p.raises(ValueError, match="at least one pass"):
        resolve_entities(df, "id", passes=[])

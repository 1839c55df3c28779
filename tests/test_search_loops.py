"""The iterative operators' loops on the driver: the inversion searches
(operators/search.py) return exactly the rows of the distributed plans
they replaced, at one Spark job per generation (evolutionary) or per
call (greedy); k-means (operators/ann.kmeans_centroids) trains in one
job; bad input fails before any job; and resolve_entities leaves the
caller's frames uncached."""

from __future__ import annotations

import contextlib
import itertools
import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cyborgdb_encrypted_vector_search_spark.functions import embed as E
from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import ann
from cyborgdb_encrypted_vector_search_spark.operators import search as S

_GROUPS = itertools.count()


@contextlib.contextmanager
def _job_group(spark):
    """Runs the block in a fresh job group; yields a function that
    counts the Spark jobs run in it so far."""
    name = f"search_loops_{next(_GROUPS)}"
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran)."""
    with _job_group(spark) as jobs:
        out = fn()
    return out, jobs()


def _raises_before_any_job(spark, fn):
    with _job_group(spark) as jobs:
        with pytest.raises(ValueError):
            fn()
    assert jobs() == 0


def _rows(df):
    return [(r["text"], r["score"]) for r in df.collect()]


# --- the distributed plans the driver loops replaced, frozen as oracles --

def _old_generation_scored(spark, pop, embed_udf, unit_target):
    pop_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(t,) for t in pop], S._generation_width(len(pop))
        ),
        "text string",
    )
    return (
        pop_df.withColumn("embedding", embed_udf("text"))
        .withColumn("score", S._score_col(unit_target))
        .select("text", "score")
    )


def _old_evolutionary_search(
    spark, target_emb, seed_candidates, pop_size=60, generations=120,
    elite_frac=0.2, early_stop=0.995, seed=0, dim=E.DEFAULT_DIM, top_n=30,
):
    unit_target = V.normalize_py(list(target_emb))
    embed_udf = E.make_embed_udf(dim)
    n_elite = max(1, int(pop_size * elite_frac))
    rng = random.Random(f"{seed}:init")
    pop = list(seed_candidates)
    while len(pop) < pop_size:
        base = rng.choice(seed_candidates)
        for _ in range(rng.randint(1, 4)):
            base = S._mutate_child(
                base, rng.choice(seed_candidates), f"{seed}:init:{rng.random()}"
            )
        pop.append(base)
    pop = pop[:pop_size]
    best_rows = []
    mutate_udf = F.udf(S._mutate_child, T.StringType())
    for gen in range(generations):
        scored = _old_generation_scored(spark, pop, embed_udf, unit_target)
        elites = scored.orderBy(F.desc("score"), F.asc("text")).limit(n_elite).collect()
        best_rows.extend((r["text"], r["score"]) for r in elites)
        if elites and elites[0]["score"] > early_stop:
            break
        if gen == generations - 1:
            break
        elite_texts = [r["text"] for r in elites]
        elites_df = spark.createDataFrame(
            [(t, elite_texts[(i + 1) % len(elite_texts)]) for i, t in enumerate(elite_texts)],
            "text string, mate string",
        )
        n_children = pop_size - len(elite_texts)
        per_parent = (n_children + len(elite_texts) - 1) // len(elite_texts)
        children = (
            elites_df.select(
                "text",
                "mate",
                F.explode(F.sequence(F.lit(1), F.lit(per_parent))).alias("slot"),
            )
            .withColumn(
                "child",
                mutate_udf(
                    "text",
                    "mate",
                    F.concat_ws(":", F.lit(seed), F.lit(gen), F.col("slot"), F.col("text")),
                ),
            )
            .select("child")
            .limit(n_children)
        )
        pop = elite_texts + [r["child"] for r in children.collect()]
    out = spark.createDataFrame(best_rows, "text string, score double")
    return (
        out.groupBy("text")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("text"))
        .limit(top_n)
    )


def _old_greedy_search(
    spark, target_emb, seed_candidates, restarts=12, iters=200, jump_p=0.01,
    seed=0, dim=E.DEFAULT_DIM, top_n=30, batch_size=1,
):
    import pandas as pd

    unit_target = np.array(V.normalize_py(list(target_emb)))
    seeds_b = spark.sparkContext.broadcast(list(seed_candidates))

    def climb(pdf):
        r = int(pdf["restart"].iloc[0])
        rng = random.Random(f"{seed}:restart:{r}")
        seeds = seeds_b.value
        cur = seeds[r % len(seeds)]

        def score_of(text):
            v = np.array(E.embed_text(text, dim))
            if not v.any():
                return -1.0
            return float(np.dot(v, unit_target))

        cur_score = score_of(cur)
        if batch_size <= 1:
            for it in range(iters):
                if rng.random() < jump_p:
                    cand = rng.choice(seeds)
                else:
                    cand = S._mutate_child(cur, rng.choice(seeds), f"{seed}:{r}:{it}:{cur}")
                cand_score = score_of(cand)
                if cand_score > cur_score:
                    cur, cur_score = cand, cand_score
        else:
            for it in range(iters):
                cands = []
                for b in range(batch_size):
                    if rng.random() < jump_p:
                        cands.append(rng.choice(seeds))
                    else:
                        cands.append(
                            S._mutate_child(
                                cur, rng.choice(seeds), f"{seed}:{r}:{it}:{b}:{cur}"
                            )
                        )
                mat = np.array(E.embed_texts(cands, dim))
                scores = mat @ unit_target
                scores[~mat.any(axis=1)] = -1.0
                j = int(np.argmax(scores))
                if scores[j] > cur_score:
                    cur, cur_score = cands[j], float(scores[j])
        return pd.DataFrame({"restart": [r], "text": [cur], "score": [cur_score]})

    restarts_df = spark.createDataFrame(
        [(r,) for r in range(restarts)], "restart int"
    ).repartition(restarts, "restart")
    results = restarts_df.groupBy("restart").applyInPandas(climb, S.GREEDY_SCHEMA)
    return (
        results.groupBy("text")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("text"))
        .limit(top_n)
    )


def _old_merge_results(evo, greedy, top_n=30):
    return (
        evo.unionByName(greedy)
        .groupBy("text")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("text"))
        .limit(top_n)
    )


# --- fixtures ------------------------------------------------------------

@pytest.fixture(scope="module")
def attack():
    target = E.embed_text("my name is john smith and my phone is 555 0134")
    seeds = ["the", "my name", "phone number", "is this", "john", "a test model"]
    return target, seeds


EVO_ARGS = [
    # 13 is not divisible by its 2 elites (per_parent overshoots by one)
    dict(pop_size=13, generations=3, seed=3, top_n=10),
    dict(pop_size=12, generations=3, elite_frac=0.25, seed=5, top_n=5),
    # early stop fires after the first generation
    dict(pop_size=8, generations=4, early_stop=-2.0, seed=5, top_n=30),
    # half the population are elites, so most children reach the result
    dict(pop_size=30, generations=4, elite_frac=0.5, seed=4, top_n=30),
]


@pytest.mark.parametrize("kw", EVO_ARGS)
def test_evolutionary_equals_distributed_plan(spark, attack, kw):
    target, seeds = attack
    got, jobs = _jobs(spark, lambda: S.evolutionary_search(spark, target, seeds, **kw))
    want = _rows(_old_evolutionary_search(spark, target, seeds, **kw))
    assert _rows(got) == want and want
    gens = 1 if kw.get("early_stop", 0.995) < -1 else kw["generations"]
    assert jobs == gens  # one job per generation run
    assert _jobs(spark, got.collect)[1] == 0


def test_evolutionary_early_stop_mid_run(spark):
    """A threshold at the first generation's best stops the loop at
    the first generation that beats it: fewer jobs than generations,
    and the rows of the distributed plan at the same threshold."""
    target = E.embed_text("spark table join filter group sort data")
    seeds = ["data table", "query vector", "join scan", "stream batch"]
    kw = dict(pop_size=12, seed=3, top_n=10)
    first = _rows(S.evolutionary_search(spark, target, seeds, generations=1, **kw))
    full = _rows(S.evolutionary_search(spark, target, seeds, generations=6, **kw))
    assert full[0][1] > first[0][1]
    stop = first[0][1]  # fires on the first improvement
    got, jobs = _jobs(spark, lambda: S.evolutionary_search(
        spark, target, seeds, generations=6, early_stop=stop, **kw))
    assert 1 < jobs < 6
    want = _rows(_old_evolutionary_search(
        spark, target, seeds, generations=6, early_stop=stop, **kw))
    assert _rows(got) == want


GREEDY_ARGS = [
    dict(restarts=3, iters=15, seed=3, top_n=5),
    dict(restarts=6, iters=10, seed=5, top_n=30),  # more restarts than cores
    dict(restarts=2, iters=8, seed=3, top_n=5, batch_size=4),
]


@pytest.mark.parametrize("kw", GREEDY_ARGS)
def test_greedy_equals_distributed_plan(spark, attack, kw):
    target, seeds = attack
    got, jobs = _jobs(spark, lambda: S.greedy_search(spark, target, seeds, **kw))
    assert jobs == 1
    assert _rows(got) == _rows(_old_greedy_search(spark, target, seeds, **kw))
    assert _jobs(spark, got.collect)[1] == 0


def test_invert_both_equals_distributed_plans(spark, attack):
    target, seeds = attack
    evo_kw, gr_kw = dict(pop_size=12, generations=3), dict(restarts=3, iters=15)
    got = S.invert_embedding(
        spark, target, seeds, mode="both", seed=5, top_n=10,
        evo_kwargs=evo_kw, greedy_kwargs=gr_kw,
    )
    old_evo = _old_evolutionary_search(spark, target, seeds, seed=5, top_n=10, **evo_kw)
    old_gr = _old_greedy_search(spark, target, seeds, seed=5, top_n=10, **gr_kw)
    assert _rows(got) == _rows(_old_merge_results(old_evo, old_gr, 10))
    assert _jobs(spark, got.collect)[1] == 0


@pytest.mark.parametrize("top_n", [1, 3, 30])
def test_merge_equals_distributed_plan(spark, top_n):
    """A text in both inputs keeps its max score; a score tie across
    texts orders by ascending text; the cut at top_n keeps the same rows."""
    schema = "text string, score double"
    evo = spark.createDataFrame(
        [("dup", 0.4), ("b", 0.7), ("a", 0.7), ("solo", 0.1)], schema)
    gr = spark.createDataFrame([("dup", 0.9), ("c", 0.7), ("dup", 0.2)], schema)
    got = S.merge_results(evo, gr, top_n)
    assert _rows(got) == _rows(_old_merge_results(evo, gr, top_n))
    assert _rows(S.merge_results(evo, gr))[:4] == [
        ("dup", 0.9), ("a", 0.7), ("b", 0.7), ("c", 0.7)]


def test_score_ties_break_by_text(spark, attack):
    """Case and spacing variants embed identically, so their scores tie
    exactly: elites and results must order them by ascending text."""
    target, _ = attack
    seeds = ["My name", "my name", "MY  NAME", "my   name", "phone", "Phone"]
    kw = dict(pop_size=12, generations=2, elite_frac=0.5, seed=3, top_n=30)
    got = _rows(S.evolutionary_search(spark, target, seeds, **kw))
    assert got == _rows(_old_evolutionary_search(spark, target, seeds, **kw))
    assert len({sc for _, sc in got}) < len(got)
    kw = dict(restarts=6, iters=0, top_n=30)
    got = _rows(S.greedy_search(spark, target, seeds, **kw))
    assert got == _rows(_old_greedy_search(spark, target, seeds, **kw))
    assert len({sc for _, sc in got}) == 2 and len(got) == 6


def test_attack_sized_job_counts(spark, attack):
    """The benchmark's attack shape: 60 texts over 2 generations is 2
    jobs, 4 restarts x 100 iterations is 1."""
    target, seeds = attack
    evo, jobs = _jobs(spark, lambda: S.evolutionary_search(
        spark, target, seeds, pop_size=60, generations=2, early_stop=2.0, seed=3000))
    assert jobs == 2 and 0 < len(_rows(evo)) <= 30
    gr, jobs = _jobs(spark, lambda: S.greedy_search(
        spark, target, seeds, restarts=4, iters=100, seed=3000))
    assert jobs == 1 and 0 < len(_rows(gr)) <= 4


@pytest.mark.parametrize("kw", [
    dict(seed_candidates=[]),
    dict(pop_size=0, generations=2),
    dict(generations=0),
    dict(top_n=0),
    dict(elite_frac=0.0),
    dict(elite_frac=1.5),
])
def test_evolutionary_bad_input_raises_before_any_job(spark, attack, kw):
    target, seeds = attack
    kw = {"seed_candidates": seeds, "pop_size": 8, "generations": 1, **kw}
    _raises_before_any_job(spark, lambda: S.evolutionary_search(spark, target, **kw))


@pytest.mark.parametrize("kw", [
    dict(seed_candidates=[]),
    dict(restarts=0),
    dict(iters=-1),
    dict(top_n=0),
])
def test_greedy_bad_input_raises_before_any_job(spark, attack, kw):
    target, seeds = attack
    kw = {"seed_candidates": seeds, "restarts": 2, "iters": 1, **kw}
    _raises_before_any_job(spark, lambda: S.greedy_search(spark, target, **kw))


# --- k-means on the driver -------------------------------------------------

def _vec_frame(spark, x, parts=3, elem="double"):
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts), f"vec_id long, embedding array<{elem}>"
    )


def _centroid_rows(cent):
    return [(r["centroid_id"], list(r["centroid"])) for r in cent.collect()]


def test_kmeans_one_job_k_centroids_deterministic(spark):
    x = np.random.default_rng(11).normal(size=(300, 6)).astype(np.float32)
    emb = _vec_frame(spark, x, elem="float")
    cent, jobs = _jobs(spark, lambda: ann.kmeans_centroids(emb, k=5, seed=7, max_iter=3))
    assert jobs == 1
    rows, jobs = _jobs(spark, lambda: _centroid_rows(cent))
    assert jobs == 0
    assert [c for c, _ in rows] == list(range(5))
    assert all(len(v) == 6 for _, v in rows)
    assert cent.schema["centroid_id"].dataType == T.IntegerType()
    assert cent.schema["centroid"].dataType == T.ArrayType(T.DoubleType())
    again = _centroid_rows(ann.kmeans_centroids(emb, k=5, seed=7, max_iter=3))
    assert again == rows


def test_kmeans_recovers_planted_clusters(spark):
    rng = np.random.default_rng(5)
    centers = np.eye(4, 8) * 100.0
    pts = [c + rng.normal(scale=0.1, size=(40, 8)) for c in centers]
    x = np.concatenate(pts)
    cent = _centroid_rows(ann.kmeans_centroids(_vec_frame(spark, x), k=4, seed=1, max_iter=5))
    got = np.array([v for _, v in cent])
    for p in pts:
        mean = p.mean(axis=0)
        assert np.min(np.abs(got - mean).max(axis=1)) < 1e-6


def test_kmeans_trains_on_a_bounded_sample(spark, monkeypatch):
    x = np.random.default_rng(3).normal(size=(600, 3))
    seen = []
    train = ann._kmeans_train

    def spy(sample, k, seed, max_iter):
        seen.append(sample)
        return train(sample, k, seed, max_iter)

    monkeypatch.setattr(ann, "_kmeans_train", spy)
    emb = _vec_frame(spark, x)
    ann.kmeans_centroids(emb, k=2, seed=4, max_iter=2)
    assert seen[0].shape == (2 * ann.KMEANS_ROWS_PER_CENTROID, 3) == (512, 3)
    assert {tuple(r) for r in seen[0]} <= {tuple(r) for r in x}
    # the same rows every run
    ann.kmeans_centroids(emb, k=2, seed=4, max_iter=2)
    assert np.array_equal(seen[0], seen[1])


def test_kmeans_empty_cluster_keeps_its_centroid():
    """Duplicate rows: k-means++ runs out of distinct rows and picks a
    row already chosen; that centroid's cluster empties and stays put."""
    x = np.array([[0.0, 0.0]] * 5 + [[1.0, 1.0]] * 5)
    c = ann._kmeans_train(x, 3, seed=2, max_iter=4)
    assert c.shape == (3, 2)
    assert {tuple(r) for r in c} == {(0.0, 0.0), (1.0, 1.0)}


@pytest.mark.parametrize("kw", [dict(k=0), dict(max_iter=0)])
def test_kmeans_bad_args_raise_before_any_job(spark, kw):
    emb = _vec_frame(spark, np.ones((10, 2)))
    _raises_before_any_job(spark, lambda: ann.kmeans_centroids(emb, **{"k": 2, **kw}))


def test_kmeans_fewer_rows_than_k_raises(spark):
    """Only the sample can tell, so this costs its one job."""
    emb = spark.createDataFrame(pa.table({
        "embedding": pa.array([[1.0, 2.0], [3.0, 4.0]], pa.list_(pa.float64()))
    }))
    with pytest.raises(ValueError, match="at least k = 3 rows"):
        ann.kmeans_centroids(emb, k=3)


# --- resolve_entities leaves the caller's frames alone -----------------------

def test_resolve_entities_does_not_persist_callers_frames(spark):
    from pyspark import StorageLevel

    from cyborgdb_encrypted_vector_search_spark.caching import release_all
    from cyborgdb_encrypted_vector_search_spark.operators.dedup import (
        resolve_entities,
        resolve_entities_incremental,
    )

    def recs(rows):
        return spark.createDataFrame(rows, "id bigint, name string, phone string")

    passes = [(["phone"], lambda a, b: F.lit(True))]
    old = recs([(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")])
    new = recs([(4, "d", "p2"), (5, "e", "p9")])
    labels = resolve_entities(old, "id", passes)
    got = {r["id"]: r["entity"] for r in resolve_entities_incremental(
        old, labels, new, "id", passes).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    assert old.is_cached is False and new.is_cached is False
    release_all()  # and nothing the calls cached outlives it
    assert old.storageLevel == new.storageLevel == StorageLevel(False, False, False, False, 1)
